"""Versioned table log with time travel — the minimal log-structured
lakehouse mechanism (manifest-per-version listing immutable parquet
files), built on nothing but Spark + a filesystem.

Like Delta/Iceberg's core trick, a version is a MANIFEST, not a data
copy: `append_version` writes only the new rows' files and its
manifest references the previous version's files unchanged, so
appending N rows costs O(N) I/O regardless of table size, old
versions stay readable forever (time travel), and readers see an
atomic file list (the manifest is written last, via temp + rename).
The reference has no storage layer at all (kernel.cu reads stdin);
this is the engine-side table format a 100 TB pipeline checkpoints
into. Compaction (plans/layout.py::compact_files) and MERGE
(operators/merge.py) compose with it: compact rewrites files and
publishes a new manifest; merge writes a new snapshot version.

Schema evolution: each manifest records the table schema; appends may
add or omit columns (merge-on-read fills nulls, the manifest pins
projection order) and may SAFELY WIDEN a column's type along the
byte→short→int→long and float→double chains (the manifest adopts the
wider type; Spark 4's parquet reader up-casts narrower files at scan
time when given an explicit read schema, verified in
tests/test_versioned.py) — any other type change fails at commit
time. See _merged_schema.

Row-level mutation is COPY-ON-WRITE (`delete_where`, `merge_version`):
only the files that CONTAIN affected rows are rewritten — every other
file is referenced unchanged by the new manifest, old versions still
time-travel to the pre-mutation rows, and vacuum reclaims the
rewritten files' ancestors. Each manifest records its file-level
`added`/`removed` delta, which is what `read_changes` turns into a
CDC stream (I/U/D) by reading ONLY the files that differ between two
versions — never the unchanged ones.

File skipping: at commit time the writer collects per-file column
min/max from the parquet FOOTERS (no data scan — the same stats the
files already carry) into the manifest; `read_version(where=...)`
prunes files whose range excludes a comparison predicate before the
scan starts. Composed with Z-order clustering (plans/layout.py) this
is the manifest-level skip that makes selective reads O(matching
files), not O(table).

Column mapping (Delta's id-based mapping, the piece that makes
RENAME and DROP metadata-only): every column carries a stable id and
a PHYSICAL name — the name actually stored in parquet files, fixed
at column creation. `rename_column` changes only the LOGICAL name in
the manifest (zero data files touched; old files keep serving under
the new name because the physical name never moved); `drop_column`
removes the field from the manifest and retires its physical name
(the bytes stay in old files but no reader selects them — and a
LATER column re-using the dropped logical name gets a fresh id and a
fresh physical name, so it can never resurrect the dropped data).
Readers translate physical→logical per the manifest of the version
being read, so time travel shows each version under its own names.

One commit loop (Delta/Iceberg optimistic concurrency): every commit
builds its manifest from its parent with `_carry` — each layout key
(schema, column mapping, partition spec, constraints, bloom index,
deletion vectors) carries unless the verb changes it — and every
writer that stages files publishes through `_publish`, which calls
the put-if-absent `_commit`. Of two racing writers exactly one takes
a version number. The loser first checks the head's batch-id ledger:
a batch the winner already committed is skipped. Otherwise the
commit's own test decides whether to rebase onto the head:

- appends (append_version, versioned_batch_sink) always rebase,
  reusing their files unless the head changed the physical layout
  they were written under;
- copy-on-write and merge-on-read DML (_commit_rewrite, _commit_dv)
  rebase only when no interleaved commit removed a file they rewrite
  or mask, added a file their predicate may match, masked the rows
  they rewrite (DV commits: the same rows), or changed the layout —
  otherwise CommitConflict tells the caller to re-run;
- snapshot writes never rebase.

A commit rebases at most _COMMIT_RETRIES times, and any failure
deletes the files the transaction wrote before it propagates.
Metadata-only verbs write no files and call _commit once: losing the
race raises VersionTaken.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from meta_iterative_mapreduce_spark.cache import owned, persist

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


# Safe type-widening chains (Delta/Iceberg's "type widening"): a later
# batch may promote a column along a chain; the manifest adopts the
# wider type and older, narrower files are up-cast at scan time by the
# parquet reader (explicit read schema — Spark 4 supports INT32→LONG
# and FLOAT→DOUBLE promotion natively, no per-file rewrite).
_WIDENING_CHAINS: tuple[tuple[str, ...], ...] = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widened_type(old: str, new: str) -> str | None:
    """The wider of two types if they sit on one widening chain, else
    None (incompatible)."""
    if old == new:
        return old
    for chain in _WIDENING_CHAINS:
        if old in chain and new in chain:
            return chain[max(chain.index(old), chain.index(new))]
    return None


def _merged_schema(prev: dict | None, new: dict) -> dict:
    """Schema evolution contract: a later batch may ADD columns (old
    files read back with nulls there — merge-on-read), may OMIT
    columns (its rows read back with nulls), and may WIDEN a column
    along byte→short→int→long or float→double (the manifest keeps the
    widest type ever committed, so every file up-casts losslessly at
    read) — but any other type change is silent-drift corruption and
    fails the commit, not the eventual reader. Column order is prev's
    fields then additions in arrival order, so the table's projection
    is stable across versions."""
    if prev is None:
        return new
    by_name = {f["name"]: f for f in prev["fields"]}
    out = {f["name"]: dict(f) for f in prev["fields"]}
    order = [f["name"] for f in prev["fields"]]
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            out[f["name"]] = dict(f)
            order.append(f["name"])
            continue
        if old["type"] == f["type"]:
            continue
        wide = (
            _widened_type(old["type"], f["type"])
            if isinstance(old["type"], str) and isinstance(f["type"], str)
            else None
        )
        if wide is None:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} "
                f"from {old['type']!r} to {f['type']!r}; only "
                "byte→short→int→long / float→double widenings are "
                "safe — add a new column instead"
            )
        out[f["name"]]["type"] = wide
    return {"type": "struct", "fields": [out[n] for n in order]}


def _mapping_state(
    prev_manifest: dict | None, prev_schema: dict | None
) -> tuple[list[dict], list[str], int]:
    """Active column mapping of the previous version →
    (mapping, retired_physical, max_column_id). Pre-mapping manifests
    synthesize the identity mapping (physical = logical, ids in field
    order) — exactly what their files physically contain."""
    if prev_manifest is not None and "column_mapping" in prev_manifest:
        return (
            [dict(m) for m in prev_manifest["column_mapping"]],
            list(prev_manifest.get("retired_physical", [])),
            prev_manifest.get(
                "max_column_id",
                max(
                    (m["id"] for m in prev_manifest["column_mapping"]),
                    default=0,
                ),
            ),
        )
    fields = prev_schema["fields"] if prev_schema else []
    mapping = [
        {"id": i + 1, "name": f["name"], "physical": f["name"]}
        for i, f in enumerate(fields)
    ]
    return mapping, [], len(fields)


def _assign_new_columns(
    schema: dict, mapping: list[dict], retired: list[str], max_id: int
) -> int:
    """Give every schema field absent from the mapping a fresh id and
    a collision-free physical name (a re-added name whose physical is
    already taken — live or retired — gets a suffixed one, so dropped
    data can never resurrect). Mutates mapping; returns new max_id."""
    have = {m["name"] for m in mapping}
    used = {m["physical"] for m in mapping} | set(retired)
    for f in schema["fields"]:
        if f["name"] in have:
            continue
        max_id += 1
        phys = (
            f["name"]
            if f["name"] not in used
            else f"{f['name']}_c{max_id}"
        )
        mapping.append({"id": max_id, "name": f["name"], "physical": phys})
        used.add(phys)
        have.add(f["name"])
    return max_id


def _to_physical(df: DataFrame, mapping: list[dict]) -> DataFrame:
    """Rename the batch's LOGICAL columns to their PHYSICAL names
    before any file is written."""
    phys = {m["name"]: m["physical"] for m in mapping}
    return df.select(
        *[F.col(c).alias(phys.get(c, c)) for c in df.columns]
    )


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR, f"v{version:06d}.json")


def versions(table: str) -> list[int]:
    """Sorted committed versions (manifest files present)."""
    mdir = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            out.append(int(f[1:-5]))
    return sorted(out)


class VersionTaken(ValueError):
    """_commit lost the put-if-absent race: another writer published
    that version number first."""


def _commit(
    table: str, version: int, files: list[str], n_rows: int, **extra
) -> None:
    """Publish the manifest atomically with put-if-absent semantics:
    write a temp file, then `os.link(tmp, final)` — link(2) fails with
    EEXIST if the path exists, unlike rename(2) which silently replaces
    it (a check-then-rename guard would be TOCTOU-racy: two concurrent
    committers of the same version could both pass the exists check and
    the loser's manifest would be clobbered). Readers never observe a
    partial manifest, and of two racing committers exactly one wins;
    the loser raises and must retry at the next version number. On
    object stores without hard links the equivalent primitive is a
    conditional put (e.g. HTTP If-None-Match) — single-writer-per-table
    is the documented contract where neither exists."""
    import time

    mdir = os.path.join(table, _MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    final = _manifest_path(table, version)
    # Exactly-once ledger durability (ADVICE r9): the batch-id ledger
    # used to live only in the individual manifests that committed each
    # batch, so a vacuum dropping those versions would forget the ids
    # and a Structured Streaming replay could double-apply. Every
    # commit now carries the CUMULATIVE id set forward from its parent
    # manifest (Delta's retained-txn ledger shape), so the ledger
    # survives any vacuum that keeps >= 1 version. Ids are small ints;
    # the set grows by one short JSON token per stream batch.
    seen: set[int] = set()
    if version > 1:
        pm = _manifest_path(table, version - 1)
        if os.path.exists(pm):
            pmj = json.load(open(pm))
            seen.update(pmj.get("seen_batch_ids", []))
            if "batch_id" in pmj:  # pre-ledger manifests: fold in
                seen.add(pmj["batch_id"])
    if "batch_id" in extra:
        seen.add(extra["batch_id"])
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "version": version,
                "committed_at": time.time(),
                "files": files,
                "n_rows": n_rows,
                "seen_batch_ids": sorted(seen),
                **extra,
            },
            fh,
        )
    try:
        os.link(tmp, final)  # atomic put-if-absent: EEXIST if committed
    except FileExistsError:
        raise VersionTaken(f"version {version} already committed") from None
    except OSError as exc:  # pragma: no cover - filesystem-dependent
        raise OSError(
            f"versioned table at {table!r} needs a filesystem with hard "
            "links for atomic put-if-absent manifest publishes "
            "(exFAT/some NFS mounts lack them); move the table or use "
            "a conditional-put object store"
        ) from exc
    finally:
        os.unlink(tmp)


def _write_data_files(
    df: DataFrame,
    table: str,
    version: int,
    partition_by: list[str] | None = None,
) -> list[str]:
    """Materialize df as immutable parquet files under a
    version-scoped directory; returns table-relative file paths. With
    `partition_by`, files land under hive-style `col=value` dirs (one
    distributed write job — Spark groups rows; no per-partition driver
    loop) and the returned relpaths carry those segments."""
    sub = os.path.join(_DATA_DIR, f"v{version:06d}-{uuid.uuid4().hex[:8]}")
    w = df.write.mode("error")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(os.path.join(table, sub))
    root = os.path.join(table, sub)
    out = []
    for dirpath, _dirs, names in os.walk(root):
        rel_dir = os.path.relpath(dirpath, table)
        out.extend(
            os.path.join(rel_dir, f) for f in names if f.endswith(".parquet")
        )
    return sorted(out)


# Partition columns must round-trip exactly through a path segment on
# BOTH the write (Spark's hive encoding) and the plan-time prune
# (_file_may_match against the parsed literal). Integer families and
# strings do; dates/timestamps/floats have cross-engine formatting
# hazards, so they are rejected at write time rather than pruned
# wrongly at read time.
_PARTITIONABLE_TYPES = {"byte", "short", "integer", "long", "string"}
_INT_FAMILY = {"byte", "short", "integer", "long"}

# ---------------------------------------------------------------------------
# HIDDEN PARTITIONING (Iceberg partition TRANSFORMS): a partition_by
# entry is either a bare column name (identity, the hive classic) or a
# transform spec string in Iceberg's surface syntax —
#     days(d)          date -> days since 1970-01-01        (int)
#     month(d)         date -> months since 1970-01          (int)
#     bucket(N, c)     int/string -> stable hash mod N       (int)
#     truncate(W, c)   int -> floor to width W; string -> first W chars
# The SOURCE column stays physically stored in every data file (unlike
# identity partitioning, where the path carries the value); the
# DERIVED value becomes a hive path segment under a reserved
# `__p_<kind><param>_<physical>` name that is never part of the table
# schema — readers drop it, so the layout is invisible to queries
# ("hidden"). Pruning is what makes it matter: a predicate on the
# SOURCE column maps into the partition domain (monotone transforms
# map ranges with non-strict bounds; bucket maps equality/IN only) and
# prunes against the manifest's exact per-file [v, v] derived stats —
# the user never names the transform in a query, exactly Iceberg's
# contract, and the 100 TB win is that a time-range scan of an
# event-grain table opens only its days' files with ZERO directory
# listing at plan time. days/month accept DATE sources only: a
# timestamp's day boundary depends on the session timezone, and a
# layout whose pruning flips with the reader's zone would be unsound
# (Iceberg solves this by pinning UTC; we refuse instead — derive a
# date column explicitly). bucket uses crc32 (zlib == Spark's crc32,
# parity-tested) rather than Iceberg's murmur3 — same spec shape,
# different hash, documented deviation (no murmur3 in either stdlib).
# ---------------------------------------------------------------------------
_TRANSFORM_RE = re.compile(
    r"^\s*(days|month|bucket|truncate)\s*\(\s*"
    r"(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$"
)


def _parse_pspec(entry: str) -> tuple[str, str, int | None]:
    """'col' -> (identity, col, None); 'days(d)' / 'month(d)' /
    'bucket(16, k)' / 'truncate(4, s)' -> (kind, source, param)."""
    m = _TRANSFORM_RE.match(entry)
    if not m:
        return ("identity", entry, None)
    kind, param, source = m.groups()
    if kind in ("bucket", "truncate"):
        if param is None:
            raise ValueError(
                f"{kind}(N, col) needs a positive integer parameter: "
                f"{entry!r}"
            )
        n = int(param)
        if n <= 0:
            raise ValueError(f"{kind} parameter must be positive: {entry!r}")
        return (kind, source, n)
    if param is not None:
        raise ValueError(f"{kind}(col) takes no parameter: {entry!r}")
    return (kind, source, None)


def _validate_pspec(entry: str, types: dict[str, str]) -> None:
    kind, src, _param = _parse_pspec(entry)
    if src not in types:
        raise ValueError(f"partition column {src!r} not in schema")
    t = types[src]
    if kind == "identity":
        if t not in _PARTITIONABLE_TYPES:
            raise ValueError(
                f"partition column {src!r} has type {t!r}; "
                f"supported: {sorted(_PARTITIONABLE_TYPES)} — for date "
                "columns use the days()/month() transforms"
            )
    elif kind in ("days", "month"):
        if t != "date":
            raise ValueError(
                f"{kind}() needs a DATE source, got {t!r} for {src!r}; "
                "a timestamp's day boundary is session-timezone-"
                "dependent, which would make pruning unsound — derive "
                "a date column explicitly"
            )
    else:  # bucket / truncate
        if t not in _INT_FAMILY | {"string"}:
            raise ValueError(
                f"{kind}() needs an int-family or string source, "
                f"got {t!r} for {src!r}"
            )


def _pspec_path_col(entry: str, phys_of: dict[str, str]) -> str:
    """The hive path segment name a spec writes under. Identity = the
    PHYSICAL source name (files are written post-_to_physical);
    transforms get a reserved `__p_` name keyed by the physical source
    so renames (metadata-only, physical names immutable) never
    invalidate recorded partition stats."""
    kind, src, param = _parse_pspec(entry)
    phys = phys_of.get(src, src)
    if kind == "identity":
        return phys
    return f"__p_{kind}{param if param is not None else ''}_{phys}"


def _with_pspec_cols(
    df: DataFrame,
    pby: list[str],
    phys_of: dict[str, str],
    types: dict[str, str],
) -> tuple[DataFrame, list[str]]:
    """(df + derived partition-domain columns, path column list) for a
    write. Identity entries pass through (the column is already in the
    frame); transform entries append ONE codegen expression each —
    no Python in the write path."""
    out = df
    path_cols: list[str] = []
    for entry in pby:
        kind, src, param = _parse_pspec(entry)
        pc = _pspec_path_col(entry, phys_of)
        path_cols.append(pc)
        if kind == "identity":
            continue
        c = F.col(phys_of.get(src, src))
        if kind == "days":
            expr = F.datediff(c, F.lit("1970-01-01")).cast("int")
        elif kind == "month":
            expr = ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("int")
        elif kind == "bucket":
            h = (
                c.cast("long")
                if types.get(src) in _INT_FAMILY
                else F.crc32(c.cast("binary"))
            )
            expr = F.pmod(h, F.lit(param)).cast("int")
        else:  # truncate
            expr = (
                (c - F.pmod(c, F.lit(param))).cast("long")
                if types.get(src) in _INT_FAMILY
                else F.substring(c, 1, param)
            )
        out = out.withColumn(pc, expr)
    return out, path_cols


def _pspec_literal(kind: str, param: int | None, value, src_type=None):
    """Python-side twin of _with_pspec_cols' expressions: map a
    predicate literal into the partition domain at PLAN time. Must
    agree exactly with the Spark expression for every value both can
    see (pinned by tests); returns None when the literal's type can't
    map — the caller keeps the files (pruning stays conservative).

    `src_type` is the SOURCE column's declared type (manifest schema).
    bucket/truncate hash/slice in the source column's domain, so a
    literal of the wrong type family must NOT map: bucket('s',N) of an
    int literal would land in the crc32 domain's wrong cell and
    silently drop files whose rows Spark's cast-based comparison
    matches (ADVICE r11, medium). Family mismatch → None (keep files).
    An unknown src_type (pre-schema manifests) is treated as mismatch
    for bucket/truncate — conservative, never lossy."""
    import datetime
    import zlib

    if isinstance(value, bool):
        return None
    if kind in ("bucket", "truncate"):
        if src_type in _INT_FAMILY:
            if not isinstance(value, int):
                return None
        elif src_type == "string":
            if not isinstance(value, str):
                return None
        else:
            return None
    if kind in ("days", "month"):
        if isinstance(value, datetime.datetime):
            d = value.date()
        elif isinstance(value, datetime.date):
            d = value
        elif isinstance(value, str):
            try:
                d = datetime.date.fromisoformat(value[:10])
            except ValueError:
                return None
        else:
            return None
        if kind == "days":
            return (d - datetime.date(1970, 1, 1)).days
        return (d.year - 1970) * 12 + d.month - 1
    if kind == "bucket":
        if isinstance(value, int):
            return value % param
        if isinstance(value, str):
            return (zlib.crc32(value.encode("utf-8")) & 0xFFFFFFFF) % param
        return None
    if kind == "truncate":
        if isinstance(value, int):
            return value - (value % param)
        if isinstance(value, str):
            return value[:param]
    return None


def _pspec_prune_op(kind: str, op: str) -> str | None:
    """Map a source-column comparison into the partition domain.
    Equality maps for every transform. Range ops map only through
    MONOTONE transforms (days/month/truncate) and become NON-STRICT
    (x < V  =>  t(x) <= t(V): the boundary partition may hold both
    sides of V). bucket is not order-preserving: ranges keep all
    files."""
    if op in ("=", "=="):
        return "="
    if kind == "bucket":
        return None
    return {"<": "<=", "<=": "<=", ">": ">=", ">=": ">="}.get(op)


def _pspec_stats(
    files: list[str],
    pby: list[str],
    phys_of: dict[str, str],
    types: dict[str, str],
) -> dict:
    """Per-file [v, v] stats for partition PATH columns parsed from the
    hive `col=value` segments — a partitioned file holds exactly ONE
    value, so the range is exact and the ordinary file-skipping
    machinery (plan_files/_file_may_match) prunes partitions with zero
    new mechanism. Transform-derived values are ints except
    truncate(string); null partitions (__HIVE_DEFAULT_PARTITION__)
    record no stats: comparison predicates are null-rejecting, but
    absence keeps the file conservatively."""
    from urllib.parse import unquote

    int_valued: dict[str, bool] = {}
    for entry in pby:
        kind, src, _param = _parse_pspec(entry)
        pc = _pspec_path_col(entry, phys_of)
        if kind == "identity":
            int_valued[pc] = types.get(src) in _INT_FAMILY
        elif kind == "truncate" and types.get(src) == "string":
            int_valued[pc] = False
        else:
            int_valued[pc] = True
    out: dict[str, dict[str, list]] = {}
    for rel in files:
        acc: dict[str, list] = {}
        for seg in rel.split(os.sep):
            if "=" not in seg:
                continue
            name, _, raw = seg.partition("=")
            if name not in int_valued:
                continue
            val = unquote(raw)
            if val == "__HIVE_DEFAULT_PARTITION__":
                continue
            if int_valued[name]:
                acc[name] = [int(val), int(val)]
            else:
                acc[name] = [val, val]
        if acc:
            out[rel] = acc
    return out


# Above this many new files, commit-time harvests (footer stats,
# bloom builds) run as ONE Spark job with a task per file instead of a
# driver-side loop — the Delta/Iceberg shape where writing tasks
# return their own stats. Below it, job-launch overhead beats the win.
_HARVEST_DISTRIBUTE_MIN = 16


def _harvest_per_file(table: str, files: list[str], fn) -> list[tuple]:
    """[(rel, fn(table, rel)), ...] — executed as a distributed Spark
    job above _HARVEST_DISTRIBUTE_MIN files (a 10k-file snapshot
    commit harvests 10k footers in parallel tasks, not a serial
    driver loop; the table path must be executor-visible, which is the
    versioned log's substrate contract — shared FS or object store),
    serially below it or with no active session."""
    spark = SparkSession.getActiveSession()
    if len(files) < _HARVEST_DISTRIBUTE_MIN or spark is None:
        return [(rel, fn(table, rel)) for rel in files]
    sc = spark.sparkContext
    n = min(len(files), max(sc.defaultParallelism * 2, 8))
    return (
        sc.parallelize(files, n)
        .map(lambda rel: (rel, fn(table, rel)))
        .collect()
    )


def _collect_file_stats(table: str, files: list[str]) -> dict:
    """Per-file column min/max harvested from the parquet FOOTERS the
    writer just produced — zero data reads; this is exactly how a real
    lakehouse writer populates its manifest stats. Only top-level
    columns whose footer min/max are JSON-safe scalars (int/float/str/
    bool, no NaN) are recorded, and a column missing stats in ANY row
    group of a file is dropped for that file (pruning must stay
    conservative). Keys are PHYSICAL column names — what the footers
    actually say. Distributed above _HARVEST_DISTRIBUTE_MIN files."""
    return dict(_harvest_per_file(table, files, _file_stats_entry))


def _file_stats_entry(table: str, rel: str) -> dict:
    """One file's footer harvest — pure function of (table, rel), so it
    runs unchanged on the driver (small commits) or inside an executor
    task (_harvest_per_file above the threshold)."""
    import math

    import pyarrow.parquet as pq

    md = pq.ParquetFile(os.path.join(table, rel)).metadata
    acc: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        grp = md.row_group(rg)
        for ci in range(grp.num_columns):
            col = grp.column(ci)
            name = col.path_in_schema
            if "." in name or name in bad:
                continue  # nested leaf: not a top-level column
            st = col.statistics
            mn = st.min if st is not None and st.has_min_max else None
            mx = st.max if st is not None and st.has_min_max else None
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    mn = None
            ok = all(
                isinstance(v, (int, float, str, bool))
                and not (isinstance(v, float) and math.isnan(v))
                for v in (mn, mx)
            )
            if not ok:
                bad.add(name)
                acc.pop(name, None)
                continue
            if name in acc:
                acc[name] = [min(acc[name][0], mn), max(acc[name][1], mx)]
            else:
                acc[name] = [mn, mx]
    # record_count, Iceberg-manifest style (VERDICT r10 item 5):
    # harvested HERE, where the footer is already open, so row
    # counts are forever a manifest read — COUNT(*) fast paths,
    # files-metadata queries, and commit-time recounts touch zero
    # footers. "__rows"/"__bytes" are reserved stats keys (never
    # physical column names); prune probes look up real columns
    # only. Byte sizes feed maxBytesPerTrigger admission control
    # and byte-targeted compaction — both pure manifest math.
    acc["__rows"] = md.num_rows
    acc["__bytes"] = os.path.getsize(os.path.join(table, rel))
    return acc


def file_row_count(table: str, m: dict, rel: str) -> int:
    """A live file's row count from the MANIFEST (the "__rows" stats
    key every writer records at commit). Legacy manifests written
    before the harvest fall back to one footer read — the only case
    that ever opens a file for a count."""
    n = m.get("file_stats", {}).get(rel, {}).get("__rows")
    if n is not None:
        return int(n)
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(table, rel)).metadata.num_rows


def file_byte_size(table: str, m: dict, rel: str) -> int:
    """A live file's on-disk size from the MANIFEST (the "__bytes"
    stats key harvested at commit alongside "__rows"); legacy
    manifests fall back to one stat(2) call."""
    n = m.get("file_stats", {}).get(rel, {}).get("__bytes")
    if n is not None:
        return int(n)
    return os.path.getsize(os.path.join(table, rel))


_BLOOM_BITS = 8192  # floor; files size UP from their distinct count
_BLOOM_K = 5
_BLOOM_BITS_PER_KEY = 10  # ~0.9% fp at k=5


def _bloom_hashes(value, n_bits: int = _BLOOM_BITS) -> list[int]:
    """k deterministic bit positions for a value — md5 of the value's
    canonical string sliced into independent 32-bit words (engine- and
    run-stable: no PYTHONHASHSEED dependence). Numbers canonicalize to
    one spelling across int/float (1234 vs 1234.0): a bloom FALSE
    NEGATIVE is a correctness bug (the prune would drop live rows), so
    an int probe literal against a double column — or vice versa —
    must hash identically to the written value. `n_bits` is the
    TARGET bitset's size — the probe derives it from the stored
    bitset, so differently-sized blooms coexist across files."""
    import hashlib

    if (
        isinstance(value, float)
        and not isinstance(value, bool)
        and value.is_integer()
        and abs(value) < 2**53
    ):
        canon = repr(int(value))
    else:
        canon = repr(value)
    digest = hashlib.md5(canon.encode()).digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") % n_bits
        for i in range(_BLOOM_K)
    ]


def _collect_file_blooms(
    table: str, files: list[str], cols: list[str]
) -> dict:
    """Per-file Bloom filters over the distinct values of `cols`
    (Delta's bloom filter index): reads ONLY those columns via arrow,
    sets k md5-derived bits per distinct value, stores base64 bitsets
    in the manifest. Point-equality reads prune files whose bloom
    PROVES absence — the skip that works where min/max can't (hash or
    round-robin layouts where every file spans the full key range).

    SIZED PER FILE (round 11): a fixed bitset saturates as files grow
    — 8192 bits over the ~19k distinct keys of one sf0.1 file gives a
    ~100% false-positive rate, i.e. an index that stops pruning
    exactly when files reach production size. Each file's bitset is
    the next power of two of ~10 bits per distinct value (≈0.9% fp at
    k=5, the Delta/parquet-bloom default neighborhood), floored at
    8192; the probe derives the modulus from the STORED bitset
    length, so old fixed-size blooms and new adaptive ones coexist in
    one manifest.

    Distributed above _HARVEST_DISTRIBUTE_MIN files: unlike the footer
    harvest this reads real column DATA (every indexed column's
    distinct values), so a serial driver loop would be the commit-time
    bottleneck on a wide snapshot — one executor task per file
    instead."""
    entries = _harvest_per_file(
        table, files, lambda t, rel: _file_bloom_entry(t, rel, cols)
    )
    return {rel: per_col for rel, per_col in entries if per_col}


def _file_bloom_entry(
    table: str, rel: str, cols: list[str]
) -> dict[str, str] | None:
    import base64

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(table, rel))
    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present:
        return None
    tbl = pf.read(columns=present)
    per_col: dict[str, str] = {}
    for c in present:
        vals = [
            v for v in tbl.column(c).unique().to_pylist() if v is not None
        ]
        n_bits = _BLOOM_BITS
        while n_bits < _BLOOM_BITS_PER_KEY * len(vals):
            n_bits *= 2
        bits = bytearray(n_bits // 8)
        for v in vals:
            for h in _bloom_hashes(v, n_bits):
                bits[h // 8] |= 1 << (h % 8)
        per_col[c] = base64.b64encode(bytes(bits)).decode()
    return per_col


def _bloom_may_contain(b64: str, value) -> bool:
    import base64

    bits = base64.b64decode(b64)
    return all(
        bits[h // 8] & (1 << (h % 8))
        for h in _bloom_hashes(value, len(bits) * 8)
    )


# Bloom-indexable column types (ADVICE r9): only types whose values
# canonicalize to ONE spelling on both the write path (arrow pylist)
# and every plausible probe literal — the int family, strings, and
# booleans, mirroring _PARTITIONABLE_TYPES' rationale. Floats/decimals
# are rejected at WRITE time: repr('1.5') vs Decimal('1.50') hash
# differently, and a bloom false negative silently DROPS LIVE ROWS.
_BLOOMABLE_TYPES = {"byte", "short", "integer", "long", "string", "boolean"}


def _bloom_family(col_type) -> str | None:
    """Type family of a bloom-indexed column for the probe guard."""
    if col_type in ("byte", "short", "integer", "long"):
        return "int"
    if col_type == "string":
        return "str"
    if col_type == "boolean":
        return "bool"
    return None  # unindexable (legacy manifests may carry one)


def _probe_family(value) -> str | None:
    """Type family of a probe literal — which bloom families it can
    soundly probe. Integral floats canonicalize to the int spelling
    (_bloom_hashes), so they probe int columns; anything else is
    unprobeable and the file is kept."""
    if isinstance(value, bool):
        return "bool"
    if isinstance(value, int):
        return "int"
    if isinstance(value, float):
        return (
            "int" if value.is_integer() and abs(value) < 2**53 else None
        )
    if isinstance(value, str):
        return "str"
    return None


def _bloom_probe_ok(m: dict, logical_col: str, value) -> bool:
    """True only when probing the bloom is SOUND: the indexed column's
    declared type family matches the literal's. A mismatch (probing an
    int column with '4242', a legacy float-typed index, a Decimal
    literal) keeps the file — Spark's residual filter would cast-match
    rows the raw-repr hash would miss, so pruning on it loses rows
    (ADVICE r9). Mirrors _file_may_match's numeric/stats guard."""
    types = {
        f["name"]: f["type"] for f in m.get("schema", {}).get("fields", [])
    }
    fam = _bloom_family(types.get(logical_col))
    return fam is not None and _probe_family(value) == fam


def _file_may_match(
    stats: dict | None, col: str, op: str, value
) -> bool:
    """False only when the file's [min, max] range PROVES no row can
    satisfy `col op value` (comparison predicates are null-rejecting,
    so all-null columns prune safely too). Missing stats, or a type
    family mismatch between the stats and the literal, keep the file —
    pruning is an optimization, never a correctness lever."""
    if not stats or col not in stats:
        return True
    mn, mx = stats[col]
    numeric = isinstance(value, (int, float)) and not isinstance(value, bool)
    stats_numeric = isinstance(mn, (int, float)) and not isinstance(mn, bool)
    if numeric != stats_numeric:
        return True
    if op == "<":
        return mn < value
    if op == "<=":
        return mn <= value
    if op == ">":
        return mx > value
    if op == ">=":
        return mx >= value
    if op in ("=", "=="):
        return mn <= value <= mx
    raise ValueError(f"unsupported prune op {op!r} (use < <= > >= =)")


def manifest_info(table: str, version: int | None = None) -> dict:
    """The raw committed manifest of `version` (latest if None) — the
    supported way for operators to read manifest EXTRAS (persisted
    model artifacts, file deltas, stats) without touching layout
    internals."""
    vs = versions(table)
    if not vs:
        raise FileNotFoundError(f"no committed versions in {table}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    return json.load(open(_manifest_path(table, v)))


def _check_constraints(
    df: DataFrame, constraints: dict[str, str], context: str
) -> None:
    """Fail the COMMIT, not the eventual reader: count rows violating
    any CHECK constraint in one aggregate pass over the batch (NULL
    predicate results count as violations, matching SQL CHECK's
    treatment of unknown as not-satisfied here being the STRICTER
    choice — documented deviation: ANSI CHECK passes UNKNOWN; a data
    pipeline wants the loud version)."""
    if not constraints:
        return
    aggs = [
        F.sum(
            F.when(F.coalesce(F.expr(sql), F.lit(False)), 0).otherwise(1)
        ).alias(name)
        for name, sql in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {n: row[n] for n in constraints if (row[n] or 0) > 0}
    if bad:
        raise ValueError(
            f"CHECK constraint violation in {context}: "
            + ", ".join(f"{n} ({v} rows)" for n, v in sorted(bad.items()))
        )


def add_constraint(
    spark: SparkSession, table: str, name: str, sql_expr: str
) -> int:
    """Register a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT):
    validates the CURRENT snapshot satisfies it (one aggregate pass),
    then commits a metadata-only version carrying it. Every later
    append / merge / update / streaming batch validates its NEW rows
    against all registered constraints and FAILS THE COMMIT on
    violation — bad data never becomes referenced by a manifest.
    Returns the new version."""
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError("add_constraint needs a schema-tracking manifest")
    cons = dict(m.get("constraints", {}))
    if name in cons:
        raise ValueError(f"constraint {name!r} already exists")
    _check_constraints(
        _read_files_logical(spark, table, m, m["files"]),
        {name: sql_expr},
        f"existing data of {table}",
    )
    cons[name] = sql_expr
    v = m["version"] + 1
    _commit(
        table,
        v,
        m["files"],
        m["n_rows"],
        **_carry(table, m, m["files"], constraints=cons),
        operation="ADD CONSTRAINT",
    )
    return v


def drop_constraint(table: str, name: str) -> int:
    """Remove a CHECK constraint (metadata-only commit)."""
    m = manifest_info(table)
    cons = dict(m.get("constraints", {}))
    if name not in cons:
        raise ValueError(f"no constraint {name!r} (have {sorted(cons)})")
    del cons[name]
    v = m["version"] + 1
    _commit(
        table,
        v,
        m["files"],
        m["n_rows"],
        **_carry(table, m, m["files"], constraints=cons),
        operation="DROP CONSTRAINT",
    )
    return v


def version_as_of(table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the latest version whose manifest
    committed at or before epoch-seconds `ts` (commit times are
    recorded by _commit; put-if-absent publishes make them
    monotone-enough per table — ties break to the higher version).
    Raises if the table has no version that old."""
    best = None
    for v in versions(table):
        m = json.load(open(_manifest_path(table, v)))
        at = m.get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {table!r} committed at or before {ts}"
        )
    return best


def read_as_of(spark: SparkSession, table: str, ts: float) -> DataFrame:
    """Time-travel read by TIMESTAMP instead of version number — the
    `SELECT ... TIMESTAMP AS OF` form, resolved through the manifests'
    commit times."""
    return read_version(spark, table, version_as_of(table, ts))


def _where_conds(where) -> list[tuple]:
    """Normalize a skip predicate to a list of (col, op, literal)
    conjuncts: None → [], a single tuple → [tuple], a list/tuple of
    tuples → all of them (ANDed). A bounded range is just
    [(col, ">=", lo), (col, "<", hi)]."""
    if where is None:
        return []
    if (
        isinstance(where, tuple)
        and len(where) == 3
        and isinstance(where[1], str)
    ):
        return [where]
    return list(where)


_SIMPLE_COND_RE = None  # compiled lazily in _conds_from_predicate


def _mask_quoted(predicate: str) -> tuple[str, list[str]] | None:
    """Replace every quoted span (single-quoted SQL string literals,
    '' as the escaped quote, and double-quoted identifiers) with a
    placeholder `\\x00<i>\\x00` that cannot contain AND / parens /
    operator text, so the structural scan never looks INSIDE a
    literal. Returns (masked, spans) or None on an unterminated quote
    (unparseable → harvest nothing)."""
    out: list[str] = []
    spans: list[str] = []
    i, n = 0, len(predicate)
    while i < n:
        ch = predicate[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n:
                if predicate[j] == ch:
                    if ch == "'" and j + 1 < n and predicate[j + 1] == "'":
                        j += 2  # doubled quote = escaped quote inside
                        continue
                    break
                j += 1
            if j >= n:
                return None  # unterminated quote
            out.append(f"\x00{len(spans)}\x00")
            spans.append(predicate[i : j + 1])
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), spans


def _conds_from_predicate(predicate: str) -> list[tuple]:
    """Best-effort (col, op, literal) conjuncts IMPLIED by a SQL
    predicate string — the automatic analog of the explicit `prune`
    hint (VERDICT r11 next-round item 6). Soundness: only TOP-LEVEL
    conjuncts of a pure conjunction are harvested (any parens / OR /
    NOT / IN / BETWEEN / LIKE / IS disqualifies the whole string), and
    a subset of conjuncts is always implied by the conjunction — so
    files excluded by the harvested conds cannot hold matching rows,
    and interleaved-added files excluded by them cannot conflict.
    Quoted literals are MASKED before the disqualifier check and the
    AND split (ADVICE r12 item 1: a string literal containing
    "' and col = N and '" must never yield a false conjunct — a false
    conjunct would silently stats-prune away genuinely matching rows
    in delete_where/update_where). Unparseable conjuncts are simply
    skipped; anything we are not sure about yields fewer conds, never
    wrong ones."""
    import re

    global _SIMPLE_COND_RE
    if _SIMPLE_COND_RE is None:
        _SIMPLE_COND_RE = re.compile(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(==|=|<=|>=|<|>)\s*(.+?)\s*$"
        )
    masked = _mask_quoted(predicate)
    if masked is None:
        return []
    masked_pred, spans = masked
    if re.search(
        r"\(|\bor\b|\bnot\b|\bin\b|\bbetween\b|\blike\b|\bis\b",
        masked_pred,
        re.IGNORECASE,
    ):
        return []

    def _unmask(s: str) -> str:
        return re.sub(
            "\x00(\\d+)\x00", lambda mm: spans[int(mm.group(1))], s
        )

    def _lit(s: str):
        s = s.strip()
        if re.fullmatch(r"-?\d+", s):
            return int(s)
        if re.fullmatch(r"-?\d+\.\d+", s):
            return float(s)
        mq = re.fullmatch(r"'((?:[^']|'')*)'", s)
        if mq:
            return mq.group(1).replace("''", "'")
        md = re.fullmatch(r"(?i:date)\s*'(\d{4}-\d{2}-\d{2})'", s)
        if md:
            return md.group(1)
        return None

    out: list[tuple] = []
    for mpart in re.split(r"\band\b", masked_pred, flags=re.IGNORECASE):
        part = _unmask(mpart)
        mt = _SIMPLE_COND_RE.match(part)
        if not mt:
            continue
        col, op, rhs = mt.groups()
        val = _lit(rhs)
        if val is None:
            continue
        out.append((col, "=" if op == "==" else op, val))
    return out


def _effective_prune(predicate: str, prune):
    """The caller's explicit prune hint, or conjuncts auto-derived
    from the predicate when none was given (None when neither yields
    anything — the whole-table-read posture)."""
    if prune is not None:
        return prune
    conds = _conds_from_predicate(predicate)
    return conds or None


def plan_files(
    table: str,
    version: int | None = None,
    where=None,
) -> tuple[list[str], int]:
    """(selected_files, total_files) for a read of `version` under an
    optional skip predicate — one `(logical_col, op, literal)` tuple
    or a LIST of them, ANDed (e.g. a bounded key range) — the
    file-pruning decision exposed so tests and queries can PIN how
    many files a selective read actually opens."""
    m = manifest_info(table, version)
    files = list(m["files"])
    conds = _where_conds(where)
    if not conds:
        return files, len(files)
    mapping, _, _ = _mapping_state(m, m.get("schema"))
    phys_of = {mp["name"]: mp["physical"] for mp in mapping}
    fstats = m.get("file_stats", {})
    fblooms = m.get("file_blooms", {})
    kept = files
    for col, op, value in conds:
        phys = phys_of.get(col, col)
        if op == "in":
            # IN-list: a file survives if ANY listed value could be in
            # it (stats range first, then bloom per value — both
            # sound; the bloom applies only to type-family-matched
            # literals)
            vals = list(value)

            def may_hold(f: str, v) -> bool:
                if not _file_may_match(fstats.get(f), phys, "=", v):
                    return False
                if not _bloom_probe_ok(m, col, v):
                    return True
                b = fblooms.get(f, {})
                return phys not in b or _bloom_may_contain(b[phys], v)

            kept = [f for f in kept if any(may_hold(f, v) for v in vals)]
            continue
        kept = [
            f for f in kept if _file_may_match(fstats.get(f), phys, op, value)
        ]
        if (
            op in ("=", "==")
            and fblooms
            and _bloom_probe_ok(m, col, value)
        ):
            kept = [
                f
                for f in kept
                if phys not in fblooms.get(f, {})  # no bloom: keep
                or _bloom_may_contain(fblooms[f][phys], value)
            ]
    # HIDDEN-PARTITIONING pruning: map each conjunct on a transform's
    # SOURCE column into the partition domain and prune against the
    # exact per-file derived stats — the caller predicates on the data
    # column, never the layout (Iceberg's contract). Monotone
    # transforms map ranges non-strictly; bucket maps =/IN only;
    # unmappable literals keep every file (conservative).
    src_types = {
        f["name"]: f["type"]
        for f in (m.get("schema") or {}).get("fields", [])
    }
    pspecs = [
        (_parse_pspec(e), _pspec_path_col(e, phys_of))
        for e in m.get("partition_by", [])
    ]
    pspecs = [(s, pc) for s, pc in pspecs if s[0] != "identity"]
    for col, op, value in conds:
        for (kind, src, param), pc in pspecs:
            if src != col:
                continue
            styp = src_types.get(src)
            if op == "in":
                mapped = [
                    _pspec_literal(kind, param, v, styp) for v in value
                ]
                if any(mv is None for mv in mapped):
                    continue
                kept = [
                    f
                    for f in kept
                    if any(
                        _file_may_match(fstats.get(f), pc, "=", mv)
                        for mv in mapped
                    )
                ]
                continue
            op2 = _pspec_prune_op(kind, op)
            v2 = _pspec_literal(kind, param, value, styp)
            if op2 is None or v2 is None:
                continue
            kept = [
                f
                for f in kept
                if _file_may_match(fstats.get(f), pc, op2, v2)
            ]
    return kept, len(files)


def _prev_schema(
    spark: SparkSession, table: str, prev_manifest: dict
) -> dict:
    """The previous version's schema for evolution checks. Manifests
    written before schema tracking lack the field; treating them as
    None would let the first post-upgrade append adopt ITS schema
    wholesale — silently dropping columns it omits and bypassing the
    type-drift check — so reconstruct the real schema from the prior
    version's parquet footers instead (one-time cost; the new manifest
    then records it forever)."""
    if "schema" in prev_manifest:
        return prev_manifest["schema"]
    paths = [os.path.join(table, f) for f in prev_manifest["files"]]
    return spark.read.parquet(*paths).schema.jsonValue()


def write_version(
    df: DataFrame,
    table: str,
    partition_by: str | list[str] | None = None,
    bloom_cols: str | list[str] | None = None,
    **extra,
) -> int:
    """Commit df as a full snapshot (next version). Returns version.
    A snapshot references ONLY its own files, so the column mapping
    resets to the identity (fresh ids, physical = logical) — earlier
    versions keep their own manifests' mappings for time travel.
    `extra` keyword fields land in the manifest verbatim (readable via
    manifest_info) — how a job persists small model artifacts (e.g. a
    PQ codebook) atomically WITH the data they describe.

    With `partition_by` the snapshot is HIVE-PARTITIONED: one
    distributed write groups rows into `col=value` directories, the
    manifest records each file's exact partition value as ordinary
    [v, v] file stats (Iceberg-style metadata partitioning — pruning
    needs no directory listing at plan time), appends inherit the
    layout, and `read_version(where=(col, ...))` skips whole
    partitions through the same plan_files path as footer-stats
    skipping. Readers restore partition columns from the path; DML
    rewrites materialize them physically — both shapes coexist in one
    table."""
    prev = _head(table)
    schema = df.schema.jsonValue()
    mapping, retired, max_id = _mapping_state(None, schema)
    cons = dict(prev.get("constraints", {})) if prev else {}
    if cons:
        _check_constraints(df, cons, f"snapshot write to {table}")
    pby = [partition_by] if isinstance(partition_by, str) else (partition_by or [])
    types = {f["name"]: f["type"] for f in schema["fields"]}
    for c in pby:
        _validate_pspec(c, types)
    blooms = [bloom_cols] if isinstance(bloom_cols, str) else (bloom_cols or [])
    for c in blooms:
        if c not in types:
            raise ValueError(f"bloom column {c!r} not in schema")
        if types[c] not in _BLOOMABLE_TYPES:
            raise ValueError(
                f"bloom column {c!r} has type {types[c]!r}; only "
                f"{sorted(_BLOOMABLE_TYPES)} canonicalize safely (a "
                "float/decimal bloom can false-negative and drop rows)"
            )
    dfw, path_cols = _with_pspec_cols(df, pby, {}, types)
    files = _write_data_files(
        dfw, table, prev["version"] + 1 if prev else 1, path_cols or None
    )
    return _publish(
        table,
        prev,
        lambda _parent: (
            files,
            df.count(),
            _carry(
                table,
                None,
                files,
                files,
                schema=schema,
                column_mapping=mapping,
                retired_physical=retired,
                max_column_id=max_id,
                removed=prev["files"] if prev else [],
                partition_by=pby,
                constraints=cons,
                bloom_cols=blooms,
                operation="WRITE",
                **extra,
            ),
        ),
        files,
        _no_rebase,
    )


def append_version(
    df: DataFrame, table: str, batch_id: int | None = None
) -> int:
    """Commit df's rows APPENDED to the latest version: writes only the
    new files; the manifest references the previous files unchanged
    (log-structured append — no rewrite of existing data). The batch's
    schema may evolve vs the table's (see _merged_schema): additions
    and omissions merge on read as nulls, type changes fail HERE, at
    commit time, before any file is referenced by a manifest. New
    columns get fresh mapping ids; files are written under PHYSICAL
    names so later renames stay metadata-only. A partitioned table's
    layout is inherited: the batch is written under the same hive
    partitioning (physical names) and its partition values join the
    manifest stats, so pruning spans old and new files alike.

    Appends never conflict: a lost race rebases onto the new head,
    reusing the written files unless the head changed the physical
    layout they were written under. `batch_id` is the
    versioned_batch_sink contract: a batch id already in the table's
    ledger is skipped (the latest version is returned), and the commit
    records the id under the operation STREAM APPEND. Returns the
    committed version."""
    if batch_id is not None and batch_id in committed_batch_ids(table):
        return versions(table)[-1]
    n_new = df.count()
    written: list[str] = []
    state: dict = {}  # layout `written` was written under; checked constraints

    def build(prev: dict | None):
        p = prev or {}
        prev_schema = _prev_schema(df.sparkSession, table, prev) if prev else None
        schema = _merged_schema(prev_schema, df.schema.jsonValue())
        mapping, retired, max_id = _mapping_state(prev, prev_schema)
        max_id = _assign_new_columns(schema, mapping, retired, max_id)
        cons = p.get("constraints", {})
        if cons and state.get("constraints") != cons:
            _check_constraints(df, cons, f"append to {table}")
            state["constraints"] = cons
        pby = list(p.get("partition_by", []))
        phys_of = {mp["name"]: mp["physical"] for mp in mapping}
        path_cols = [_pspec_path_col(c, phys_of) for c in pby]
        key = (
            tuple(sorted((c, phys_of.get(c, c)) for c in df.columns)),
            tuple(path_cols),
        )
        if state.get("key") != key:  # first write, or a relayout raced us
            _drop_files(table, written)
            types = {f["name"]: f["type"] for f in schema["fields"]}
            dfw, _ = _with_pspec_cols(
                _to_physical(df, mapping), pby, phys_of, types
            )
            written[:] = _write_data_files(
                dfw, table, p.get("version", 0) + 1, path_cols or None
            )
            state["key"] = key
        files = p.get("files", []) + written
        if batch_id is not None:
            label = {"operation": "STREAM APPEND", "batch_id": batch_id}
        else:
            label = {"operation": "APPEND" if prev else "WRITE"}
        return files, p.get("n_rows", 0) + n_new, _carry(
            table,
            prev,
            files,
            written,
            schema=schema,
            column_mapping=mapping,
            retired_physical=retired,
            max_column_id=max_id,
            **label,
        )

    return _publish(table, _head(table), build, written, batch_id=batch_id)


def rename_column(
    spark: SparkSession, table: str, old: str, new: str
) -> int:
    """METADATA-ONLY rename (Delta column-mapping semantics): commits
    a new version with the identical file list whose manifest carries
    the new logical name; the physical name — what every parquet file
    actually stores — never changes, so zero data is rewritten and
    every pre-rename file serves the renamed column. Time travel to
    older versions still shows the old name (each manifest maps for
    itself). Returns the new version."""
    prev = manifest_info(table)
    prev_schema = _prev_schema(spark, table, prev)
    names = [f["name"] for f in prev_schema["fields"]]
    if old not in names:
        raise ValueError(f"column {old!r} does not exist (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    mapping, retired, max_id = _mapping_state(prev, prev_schema)
    schema = {
        "type": "struct",
        "fields": [
            {**f, "name": new} if f["name"] == old else f
            for f in prev_schema["fields"]
        ],
    }
    for m in mapping:
        if m["name"] == old:
            m["name"] = new
    for cname, cexpr in prev.get("constraints", {}).items():
        if re.search(rf"\b{re.escape(old)}\b", cexpr):
            raise ValueError(
                f"cannot rename {old!r}: referenced by constraint "
                f"{cname!r} ({cexpr!r}); drop the constraint first"
            )
    v = prev["version"] + 1
    # partition specs follow the rename — including transform sources
    # ('days(old)' -> 'days(new)'). Path column names key on the
    # PHYSICAL source, which a rename never changes, so every recorded
    # partition stat stays valid.
    def _pspec_renamed(entry: str) -> str:
        kind, src, param = _parse_pspec(entry)
        if src != old:
            return entry
        if kind == "identity":
            return new
        if param is not None:
            return f"{kind}({param}, {new})"
        return f"{kind}({new})"

    _commit(
        table,
        v,
        prev["files"],
        prev["n_rows"],
        **_carry(
            table,
            prev,
            prev["files"],
            schema=schema,
            column_mapping=mapping,
            retired_physical=retired,
            max_column_id=max_id,
            partition_by=[
                _pspec_renamed(c) for c in prev.get("partition_by", [])
            ],
            # bloom_cols are LOGICAL names (rename follows); file_blooms
            # key by PHYSICAL column name, which a rename never moves.
            bloom_cols=[
                new if c == old else c for c in prev.get("bloom_cols", [])
            ],
        ),
        operation="RENAME COLUMN",
    )
    return v


def drop_column(spark: SparkSession, table: str, name: str) -> int:
    """METADATA-ONLY drop: commits a new version with the identical
    file list whose manifest no longer carries the column; the bytes
    stay in old files but no reader selects them, and the RETIRED
    physical name is recorded so a later column re-using the logical
    name gets a fresh physical name instead of resurrecting the
    dropped data. Returns the new version."""
    prev = manifest_info(table)
    prev_schema = _prev_schema(spark, table, prev)
    names = [f["name"] for f in prev_schema["fields"]]
    if name not in names:
        raise ValueError(f"column {name!r} does not exist (have {names})")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    mapping, retired, max_id = _mapping_state(prev, prev_schema)
    schema = {
        "type": "struct",
        "fields": [f for f in prev_schema["fields"] if f["name"] != name],
    }
    if any(
        _parse_pspec(c)[1] == name for c in prev.get("partition_by", [])
    ):
        raise ValueError(
            f"cannot drop partition column {name!r}; rewrite the table "
            "unpartitioned (write_version) first"
        )
    for cname, cexpr in prev.get("constraints", {}).items():
        if re.search(rf"\b{re.escape(name)}\b", cexpr):
            raise ValueError(
                f"cannot drop {name!r}: referenced by constraint "
                f"{cname!r} ({cexpr!r}); drop the constraint first"
            )
    retired = retired + [m["physical"] for m in mapping if m["name"] == name]
    mapping = [m for m in mapping if m["name"] != name]
    v = prev["version"] + 1
    _commit(
        table,
        v,
        prev["files"],
        prev["n_rows"],
        **_carry(
            table,
            prev,
            prev["files"],
            schema=schema,
            column_mapping=mapping,
            retired_physical=retired,
            max_column_id=max_id,
            # the dropped column leaves the index; stale per-file
            # bitsets for its physical name are dead weight only (a
            # re-added name gets a FRESH physical, so they can never be
            # probed again).
            bloom_cols=[c for c in prev.get("bloom_cols", []) if c != name],
        ),
        operation="DROP COLUMN",
    )
    return v


def _where_column(where) -> F.Column:
    """The residual filter for a skip predicate (single conjunct or
    ANDed list) — always applied after pruning, identical answers."""

    def one(cond: tuple) -> F.Column:
        col, op, value = cond
        c = F.col(col)
        if op == "<":
            return c < F.lit(value)
        if op == "<=":
            return c <= F.lit(value)
        if op == ">":
            return c > F.lit(value)
        if op == ">=":
            return c >= F.lit(value)
        if op in ("=", "=="):
            return c == F.lit(value)
        if op == "in":
            return c.isin(list(value))
        raise ValueError(f"unsupported prune op {op!r}")

    out = None
    for cond in _where_conds(where):
        col = one(cond)
        out = col if out is None else out & col
    if out is None:
        raise ValueError("empty where predicate")
    return out


def read_version(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    where=None,  # (col, op, lit) or ANDed list of them
) -> DataFrame:
    """Time-travel read: the exact immutable file list of `version`
    (latest if None). With `where = (logical_col, op, literal)` the
    read first SKIPS every file whose manifest min/max range proves it
    holds no matching row (plan_files), then applies the same
    predicate as a filter — identical answer to a full scan + filter,
    opening only the files that can matter."""
    vs = versions(table)
    if not vs:
        raise FileNotFoundError(f"no committed versions in {table}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = json.load(open(_manifest_path(table, v)))
    kept, _total = plan_files(table, v, where)
    paths = [os.path.join(table, f) for f in kept]
    filt = _where_column(where) if where is not None else None
    if "schema" not in m:  # pre-evolution manifest: plain read
        df = spark.read.parquet(*paths)
        return df.filter(filt) if filt is not None else df
    # Merge-on-read via an EXPLICIT read schema (the manifest's):
    # files written before a column was added read it back as null,
    # files written with a narrower type up-cast at scan time
    # (int→long / float→double — Spark 4 parquet reader promotion),
    # projection order is pinned by the manifest (not file listing
    # order), physical names alias back to THIS manifest's logical
    # names (column mapping), and deletion vectors are anti-joined —
    # all in _read_files_logical. This deliberately avoids
    # mergeSchema: the footer-union pass reads every file's footer up
    # front (a driver bottleneck at 100 TB file counts) and CANNOT
    # reconcile widened types at all (CANNOT_MERGE_SCHEMAS).
    out = _read_files_logical(spark, table, m, kept)
    return out.filter(filt) if filt is not None else out


def _dv_table(spark: SparkSession, table: str, dv_files: list[str]) -> DataFrame:
    """(file, row_index) pairs of all recorded deletion vectors."""
    return spark.read.parquet(
        *[os.path.join(table, f) for f in dv_files]
    ).select("file", "row_index")


def _write_dv_files(
    matches: DataFrame, table: str, version: int
) -> tuple[list[str], dict[str, list[str]]]:
    """Materialize a (file, row_index) match set as PER-FILE deletion
    vectors — the Delta/Iceberg v2 model (one DV object per masked
    data file) replacing round 10's one-commit-wide-DV shape (VERDICT
    r10 'What's wrong' #1 / Missing #4). The write is
    `repartition(<masked file>)` + `partitionBy`, so:

    - the upstream match probe stays PARALLEL (the old `coalesce(1)`
      collapsed the whole probe stage into one task — a serial rescan
      of every candidate file on a wide DELETE);
    - each masked data file gets exactly ONE DV parquet (hash
      repartition co-locates a file's positions in one task;
      partitionBy splits per key within it), written by as many tasks
      as there are masked files;
    - readers look up DVs file-locally via the returned map, and a
      rewrite of one data file retires ONE small DV object instead of
      invalidating a commit-wide blob.

    The write is COMMITTER-FREE (VERDICT r12 item 7): each task
    writes its groups' DV parquets straight to their FINAL paths via
    pyarrow — no Spark output committer, no _temporary staging, no
    sequential partition-dir renames (the rename pass dominated the
    10k-DV scale smoke at ~174 s idle). Safe without a commit
    protocol because the MANIFEST is the commit point, exactly the
    Delta/Iceberg object-store discipline: a failed/retried task's
    orphan objects are simply never referenced (vacuum reclaims
    them), and uuid object names make attempts collision-free.
    `file` stays a physical column inside each DV parquet so legacy
    whole-list readers (_dv_table) need no map; the (file → dv) map
    rides back as the tasks' O(n_masked) return rows, so the driver
    touches ZERO filesystem metadata.
    Returns (dv relpaths, {data file relpath: [its dv relpaths]})."""
    sub = os.path.join(
        _DATA_DIR, f"v{version:06d}-dv-{uuid.uuid4().hex[:8]}"
    )
    abs_root = os.path.join(table, sub)
    os.makedirs(abs_root, exist_ok=True)

    def write_groups(batches):
        import uuid as _uuid

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        by_file: dict[str, list] = {}
        for pdf in batches:
            for f, grp in pdf.groupby("file"):
                by_file.setdefault(f, []).append(
                    grp["row_index"].to_numpy()
                )
        files, dvs = [], []
        for f, chunks in by_file.items():
            idxs = np.sort(np.concatenate(chunks))
            name = f"dv-{_uuid.uuid4().hex}.parquet"
            pq.write_table(
                pa.table(
                    {
                        "file": pa.array([f] * len(idxs)),
                        "row_index": pa.array(idxs, type=pa.int64()),
                    }
                ),
                os.path.join(abs_root, name),
            )
            files.append(f)
            dvs.append(name)
        yield pd.DataFrame({"file": files, "dv": dvs})

    # repartition on the masked file co-locates each file's positions
    # in ONE task => exactly one DV object per masked data file (the
    # same fan-out pin as before), written by as many tasks as Spark
    # schedules
    pairs = (
        matches.select("file", "row_index")
        .repartition("file")
        .mapInPandas(write_groups, "file string, dv string")
        .collect()
    )
    dv_map = {
        r["file"]: [os.path.join(sub, r["dv"])] for r in pairs
    }
    new_dv = sorted(os.path.join(sub, r["dv"]) for r in pairs)
    return new_dv, dv_map


def _relevant_dvs(m: dict, files: list[str]) -> list[str]:
    """FILE-LOCAL DV lookup: the manifest's dv_map names which data
    file each per-file DV masks, so reading a subset of files opens
    only that subset's DV objects — a point-read of 1 file from a
    100k-file table with 100k DVs opens 1 DV, not 100k. DV files the
    map does not attribute (legacy commit-wide DVs from pre-r11
    manifests) are conservatively always read."""
    all_dv = list(m.get("dv_files", []))
    if not all_dv:
        return []
    dv_map = m.get("dv_map") or {}
    if not dv_map:
        return all_dv
    mapped = {d for dvs in dv_map.values() for d in dvs}
    rel = [d for d in all_dv if d not in mapped]  # legacy: always on
    fset = set(files)
    for f, dvs in dv_map.items():
        if f in fset:
            rel.extend(dvs)
    return sorted(set(rel))


def _dv_prune(m: dict, removed: set[str]) -> dict:
    """The DV manifest keys after a rewrite removes `removed` data
    files: per-file DVs mapped to a removed file are DEAD (their
    relpath can never be referenced again — version subdirs are
    unique), so they leave dv_files/dv_map/dv_rows entirely and become
    vacuum-reclaimable immediately, instead of riding inert forever.
    Legacy unmapped DVs stay (their entries for removed relpaths are
    inert but may also mask carried files)."""
    dv_map = m.get("dv_map") or {}
    dropped = {d for f, dvs in dv_map.items() if f in removed for d in dvs}
    return {
        "dv_files": [d for d in m.get("dv_files", []) if d not in dropped],
        "dv_map": {f: list(d) for f, d in dv_map.items() if f not in removed},
        "dv_rows": {
            d: n
            for d, n in (m.get("dv_rows") or {}).items()
            if d not in dropped
        },
    }


def _read_files_logical(
    spark: SparkSession,
    table: str,
    m: dict,
    files: list[str],
    with_position: bool = False,
) -> DataFrame:
    """Read a SUBSET of a manifest's files under its column mapping,
    returning LOGICAL columns — the building block copy-on-write
    rewrites, deletion-vector applies, and CDC reads share with
    read_version. The manifest's DELETION VECTORS (merge-on-read
    deletes) are ALWAYS applied — a row whose (file, row_index) is
    DV'd is invisible to every consumer, including rewrites (no
    resurrection through copy-on-write). with_position=True keeps the
    `__file` (table-relative path — partition dirs reuse part-file
    basenames, so only the relpath is a unique row-position key) and
    `__row_index` position columns exposed. Hive-partitioned files
    (relpaths with `col=value` segments) are read per version-subdir
    under a basePath so Spark restores the partition columns from the
    path; plain files — including DML rewrites of a partitioned
    table, which materialize the column physically — read directly;
    both shapes union into one logical frame."""
    from pyspark.sql.types import LongType, StringType

    want = StructType.fromJson(m["schema"])
    want = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in want]
    )
    pos_fields = [
        StructField("__file", StringType(), True),
        StructField("__row_index", LongType(), True),
    ]
    if not files:
        return spark.createDataFrame(
            [],
            StructType(list(want) + (pos_fields if with_position else [])),
        )
    mapping, _, _ = _mapping_state(m, m["schema"])
    phys_of = {mp["name"]: mp["physical"] for mp in mapping}
    phys_schema = StructType(
        [
            StructField(phys_of.get(f.name, f.name), f.dataType, True, f.metadata)
            for f in want
        ]
    )
    dv_files = _relevant_dvs(m, files)
    need_pos = with_position or bool(dv_files)
    # file: + abspath is how the local Hadoop FS renders
    # _metadata.file_path; stripping it yields the manifest relpath.
    pref = "file:" + os.path.abspath(table) + os.sep
    pos_cols = (
        [
            F.expr(
                f"substring(_metadata.file_path, {len(pref) + 1})"
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__row_index"),
        ]
        if need_pos
        else []
    )
    plain = [f for f in files if "=" not in f]
    parted = [f for f in files if "=" in f]
    parts: list[DataFrame] = []
    if plain:
        parts.append(
            spark.read.schema(phys_schema).parquet(
                *[os.path.join(table, f) for f in plain]
            )
        )
    if parted:
        by_sub: dict[str, list[str]] = {}
        for f in parted:
            segs = f.split(os.sep)
            by_sub.setdefault(os.sep.join(segs[:2]), []).append(f)
        for sub, fs in sorted(by_sub.items()):
            parts.append(
                spark.read.schema(phys_schema)
                .option("basePath", os.path.join(table, sub))
                .parquet(*[os.path.join(table, f) for f in fs])
            )
    frames = [
        df.select(
            *[F.col(phys_of.get(f.name, f.name)).alias(f.name) for f in want],
            *pos_cols,
        )
        for df in parts
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    if dv_files:
        dv = _dv_table(spark, table, dv_files).select(
            F.col("file").alias("__dv_file"),
            F.col("row_index").alias("__dv_ri"),
        )
        out = out.join(
            dv,
            (F.col("__file") == F.col("__dv_file"))
            & (F.col("__row_index") == F.col("__dv_ri")),
            "left_anti",
        )
    if need_pos and not with_position:
        out = out.drop("__file", "__row_index")
    return out


def _prune_may_match(m: dict, prune):
    """Turn a caller's prune hint (one conjunct or an ANDed list, e.g.
    a bounded key range) into the OCC `added_may_match` probe: an
    interleaved-added file whose stats exclude ANY conjunct cannot
    hold rows this transaction's (hint-implied) predicate matches, so
    it does not conflict. No hint → None (the transaction read the
    whole table; any interleaved add conflicts)."""
    conds = _where_conds(prune)
    if not conds:
        return None
    mapping, _, _ = _mapping_state(m, m.get("schema"))
    phys_of = {mp["name"]: mp["physical"] for mp in mapping}
    # hidden-partitioning twins: an interleaved file written under a
    # transform spec carries exact derived stats (its __p_* path
    # value) even when the source column's footer stats are unusable
    # (dates) — map each conjunct into the partition domain exactly
    # like plan_files does, so scoped DML coexists with appends to
    # other days/buckets
    src_types = {
        f["name"]: f["type"]
        for f in (m.get("schema") or {}).get("fields", [])
    }
    pspecs = [
        (_parse_pspec(e), _pspec_path_col(e, phys_of))
        for e in m.get("partition_by", [])
    ]
    pspecs = [(s, pc) for s, pc in pspecs if s[0] != "identity"]

    def _transform_may(fstats, pcol, pop, pval) -> bool:
        for (kind, src, param), pc in pspecs:
            if src != pcol:
                continue
            styp = src_types.get(src)
            if pop == "in":
                mapped = [
                    _pspec_literal(kind, param, v, styp) for v in pval
                ]
                if any(mv is None for mv in mapped):
                    continue
                if not any(
                    _file_may_match(fstats, pc, "=", mv) for mv in mapped
                ):
                    return False
                continue
            op2 = _pspec_prune_op(kind, pop)
            v2 = _pspec_literal(kind, param, pval, styp)
            if op2 is None or v2 is None:
                continue
            if not _file_may_match(fstats, pc, op2, v2):
                return False
        return True

    checks = []
    for pcol, pop, pval in conds:
        phys = phys_of.get(pcol, pcol)
        if pop == "in":
            vals = list(pval)
            checks.append(
                lambda fstats, phys=phys, vals=vals, pcol=pcol: any(
                    _file_may_match(fstats, phys, "=", v) for v in vals
                )
                and _transform_may(fstats, pcol, "in", vals)
            )
        else:
            checks.append(
                lambda fstats, phys=phys, pop=pop, pval=pval, pcol=pcol: (
                    _file_may_match(fstats, phys, pop, pval)
                    and _transform_may(fstats, pcol, pop, pval)
                )
            )
    return lambda fstats: all(c(fstats) for c in checks)


# ---------------------------------------------------------------------------
# THE COMMIT LOOP (see the module docstring). Every writer derives its
# manifest from its parent through _carry; every writer that stages
# files publishes through _publish, the log's one optimistic-
# concurrency loop; DML commits prove a lost race harmless with
# _dml_check before rebasing.
# ---------------------------------------------------------------------------

_COMMIT_RETRIES = 10  # lost races one commit rebases through, then fails

# The physical layout a DML transaction's files were written under: an
# interleaved change to any of these conflicts the commit.
_LAYOUT_KEYS = (
    "schema",
    "column_mapping",
    "partition_by",
    "constraints",
    "bloom_cols",
)


class CommitConflict(ValueError):
    """A concurrent commit truly overlapped this transaction's read or
    write set — the caller must re-run the operation against the new
    head (re-executing IS the correct resolution; the data it computed
    is stale)."""


def _head(table: str) -> dict | None:
    """The latest committed manifest, None for an empty table."""
    vs = versions(table)
    return json.load(open(_manifest_path(table, vs[-1]))) if vs else None


def _carry(
    table: str,
    parent: dict | None,
    files: list[str],
    new: list[str] | None = None,
    **changes,
) -> dict:
    """Manifest extras of a commit whose parent is `parent` (None: the
    table's first version) and whose live file list is `files`. Every
    layout key carries from the parent — schema, column mapping
    (synthesized for pre-mapping parents), partition spec,
    constraints, bloom index, deletion vectors — with per-file stats
    and blooms restricted to live files. `new` names the files this
    commit wrote: they become `added`, and their footer stats,
    partition values and blooms are harvested here under the commit's
    own mapping and spec. `changes` are what the commit alters,
    applied over the carried keys; an empty partition spec, constraint
    set, bloom index, DV map or DV row count is left out."""
    p = parent or {}
    live = set(files)
    mapping, retired, max_id = _mapping_state(parent, p.get("schema"))
    out = {
        "schema": p.get("schema"),
        "column_mapping": mapping,
        "retired_physical": retired,
        "max_column_id": max_id,
        "file_stats": {
            f: s for f, s in p.get("file_stats", {}).items() if f in live
        },
        "added": list(new or []),
        "removed": [],
        "partition_by": list(p.get("partition_by", [])),
        "constraints": dict(p.get("constraints", {})),
        "bloom_cols": list(p.get("bloom_cols", [])),
        "file_blooms": {
            f: b for f, b in p.get("file_blooms", {}).items() if f in live
        },
    }
    if parent is not None:
        out["dv_files"] = list(p.get("dv_files", []))
        out["dv_map"] = {f: list(d) for f, d in (p.get("dv_map") or {}).items()}
        out["dv_rows"] = dict(p.get("dv_rows") or {})
    out.update(changes)
    if new:
        phys_of = {m["name"]: m["physical"] for m in out["column_mapping"]}
        types = {f["name"]: f["type"] for f in out["schema"]["fields"]}
        stats = _collect_file_stats(table, new)
        pstats = _pspec_stats(new, out["partition_by"], phys_of, types)
        out["file_stats"].update(
            {f: {**stats.get(f, {}), **pstats.get(f, {})} for f in new}
        )
        if out["bloom_cols"]:
            out["file_blooms"].update(
                _collect_file_blooms(
                    table, new, [phys_of.get(c, c) for c in out["bloom_cols"]]
                )
            )
    for k in ("partition_by", "constraints", "dv_map", "dv_rows"):
        if not out.get(k):
            out.pop(k, None)
    if not out["bloom_cols"]:
        del out["bloom_cols"], out["file_blooms"]
    return out


def _drop_files(table: str, files: list[str]) -> None:
    for f in files:
        p = os.path.join(table, f)
        if os.path.exists(p):
            os.unlink(p)


def _publish(
    table: str,
    base: dict | None,
    build,
    written: list[str],
    check=None,
    batch_id: int | None = None,
) -> int:
    """The commit loop. `build(parent)` returns (files, n_rows, extras)
    of the manifest derived from `parent` — `base` first, then each
    head a lost race rebases onto — and _commit publishes it as
    version parent + 1 (1 for an empty table). On a lost race a
    `batch_id` already in the ledger was committed by the winner: the
    commit is skipped and the head's version returned. Otherwise
    `check(parent, head)` raises CommitConflict unless rebasing is
    sound (None: always sound), and the loop rebuilds on the head, at
    most _COMMIT_RETRIES times. Any failure deletes `written` — the
    transaction's uncommitted files, which build may replace — before
    it propagates. Returns the committed version."""
    parent = base
    try:
        for _ in range(_COMMIT_RETRIES):
            v = parent["version"] + 1 if parent else 1
            files, n_rows, extras = build(parent)
            try:
                _commit(table, v, files, n_rows, **extras)
                return v
            except VersionTaken:
                head = _head(table)
            if batch_id is not None and batch_id in committed_batch_ids(table):
                _drop_files(table, written)
                return head["version"]
            if check is not None:
                check(parent, head)
            parent = head
        raise RuntimeError(
            f"commit to {table!r} lost {_COMMIT_RETRIES} straight races"
        )
    except BaseException:
        _drop_files(table, written)
        raise


def _no_rebase(parent: dict | None, head: dict) -> None:
    """The lost-race test of a snapshot write: it never rebases."""
    raise CommitConflict(
        f"a concurrent commit published v{head['version']} first — "
        "re-run the snapshot write against it"
    )


def _dv_positions(table: str, dvs: list[str]) -> set[tuple[str, int]]:
    """(data file, row index) pairs masked by the deletion vectors."""
    import pyarrow.parquet as pq

    out: set[tuple[str, int]] = set()
    for dv in dvs:
        t = pq.read_table(os.path.join(table, dv), columns=["file", "row_index"])
        out.update(
            zip(t.column("file").to_pylist(), t.column("row_index").to_pylist())
        )
    return out


def _dml_check(
    table: str, base: dict, touched: set[str], added_may_match, hits
):
    """The lost-race test of a DML commit built on `base`. Rebasing
    onto the head is sound only when the interleaved commits are
    disjoint from this transaction's read and write sets:

    - none removed a file in `touched` (the files this commit rewrites
      or masks — a write-write conflict, or a mask made inert);
    - every file one added fails `added_may_match(file_stats)` — the
      caller's prune hint or merge key range; None means the whole
      table was read, so any add conflicts;
    - no deletion vector added since `base` masks a position `hits`
      claims (copy-on-write: any row of a rewritten file, which the
      rewrite would resurrect; merge-on-read: the same row, whose
      update would append a second image);
    - the layout (_LAYOUT_KEYS) is unchanged, because this
      transaction's files were written under it."""

    def check(parent: dict, head: dict) -> None:
        rerun = f" — re-run against v{head['version']}"
        for iv in range(parent["version"] + 1, head["version"] + 1):
            im = manifest_info(table, iv)
            if set(im.get("removed", [])) & touched:
                raise CommitConflict(
                    f"concurrent commit v{iv} rewrote a file this "
                    "transaction rewrites or masks" + rerun
                )
            stats = im.get("file_stats", {})
            if any(
                added_may_match is None or added_may_match(stats.get(f))
                for f in im.get("added", [])
            ):
                raise CommitConflict(
                    f"concurrent commit v{iv} added files this "
                    "transaction's predicate may match" + rerun
                )
        before = set(base.get("dv_files", []))
        theirs = [d for d in head.get("dv_files", []) if d not in before]
        if theirs and hits(_dv_positions(table, theirs)):
            raise CommitConflict(
                "a concurrent deletion vector masks the same rows this "
                "transaction rewrites or masks" + rerun
            )
        if any(base.get(k) != head.get(k) for k in _LAYOUT_KEYS):
            raise CommitConflict(
                "a concurrent commit changed the table layout (schema/"
                "mapping/partitioning/constraints/blooms)" + rerun
            )

    return check


def _commit_rewrite(
    spark: SparkSession,
    table: str,
    prev: dict,
    touched: list[str],
    replacement: DataFrame | None,
    added_may_match=None,
    schema_evolution: dict | None = None,
    **extra,
) -> int:
    """Shared copy-on-write commit: replace `touched` files with the
    files materialized from `replacement` (None/empty ⇒ pure removal),
    carry every untouched file and its stats unchanged, and record the
    file-level added/removed delta read_changes consumes. The
    replacement files are written once and reused across rebases —
    _dml_check's disjointness proof is what makes that sound. Two
    writers deleting DISJOINT partitions therefore both commit, while
    a true overlap raises CommitConflict. Returns the new version.

    `schema_evolution` (merge_schema=True): {"schema", "column_mapping",
    "retired_physical", "max_column_id"} precomputed by the caller —
    the commit adopts the evolved schema and writes replacement files
    under the EXTENDED mapping."""
    layout = schema_evolution or {}
    mapping = layout.get("column_mapping") or _mapping_state(
        prev, prev["schema"]
    )[0]
    touched_set = set(touched)
    new_files: list[str] = []
    n_new = 0
    if replacement is not None:
        _check_constraints(
            replacement,
            prev.get("constraints", {}),
            f"rewrite commit to {prev.get('version')}+1",
        )
        n_new = replacement.count()
        if n_new:
            new_files = _write_data_files(
                _to_physical(replacement, mapping), table, prev["version"] + 1
            )

    def build(p: dict):
        untouched = [f for f in p["files"] if f not in touched_set]
        # rows surviving outside the rewrite: the MANIFEST's per-file
        # record counts (zero footer I/O; legacy entries read one
        # footer) minus the DV entries masking them — opening only the
        # DVs that can mask an untouched file
        n_untouched = sum(file_row_count(table, p, f) for f in untouched)
        count_dvs = _relevant_dvs(p, untouched)
        if count_dvs and untouched:
            n_untouched -= (
                _dv_table(spark, table, count_dvs)
                .filter(F.col("file").isin(list(untouched)))
                .count()
            )
        files = untouched + new_files
        # rewrites materialize partition columns physically, but the
        # table stays declared-partitioned: _carry keeps the spec
        return files, n_untouched + n_new, _carry(
            table,
            p,
            files,
            new_files,
            removed=list(touched),
            **_dv_prune(p, touched_set),
            **layout,
            **extra,
        )

    return _publish(
        table,
        prev,
        build,
        new_files,
        _dml_check(
            table,
            prev,
            touched_set,
            added_may_match,
            lambda pos: any(f in touched_set for f, _ in pos),
        ),
        extra.get("batch_id"),
    )


def _commit_dv(
    spark: SparkSession,
    table: str,
    base: dict,
    new_files: list[str],
    new_dv: list[str],
    n_rows_delta: int,
    added_may_match=None,
    dv_map: dict[str, list[str]] | None = None,
    schema_evolution: dict | None = None,
    **extra,
) -> int:
    """Shared MERGE-ON-READ commit: reference every base file
    unchanged, extend the DV list with `new_dv` (`dv_map` names the
    data file each one masks), append `new_files` (a DV update/merge's
    new row images), and adjust n_rows by `n_rows_delta`. Two DV
    writers masking different rows of even the SAME file both commit —
    masks union — which is the concurrency profile frequent-small-DML
    tables actually need."""
    import pyarrow.parquet as pq

    dv_map = dv_map or {}

    def build(p: dict):
        p_map = p.get("dv_map") or {}
        files = p["files"] + new_files
        return files, p["n_rows"] + n_rows_delta, _carry(
            table,
            p,
            files,
            new_files,
            dv_files=list(p.get("dv_files", [])) + new_dv,
            # two DV commits masking one data file stack their objects
            dv_map={
                **p_map,
                **{f: p_map.get(f, []) + dvs for f, dvs in dv_map.items()},
            },
            # per-DV row counts: reorg_purge plans mask ratios from
            # the manifest alone (dv rows / file __rows)
            dv_rows={
                **(p.get("dv_rows") or {}),
                **{
                    dv: pq.ParquetFile(os.path.join(table, dv)).metadata.num_rows
                    for dv in new_dv
                },
            },
            **(schema_evolution or {}),
            **extra,
        )

    return _publish(
        table,
        base,
        build,
        new_files + new_dv,
        _dml_check(
            table,
            base,
            set(dv_map),
            added_may_match,
            lambda pos: bool(pos & _dv_positions(table, new_dv)),
        ),
        extra.get("batch_id"),
    )


def delete_where(
    spark: SparkSession,
    table: str,
    predicate: str,
    mode: str = "cow",
    prune=None,  # (col, op, lit) or ANDed list of them
) -> int:
    """Row-level DELETE — the GDPR-delete path a real 100 TB pipeline
    needs — in either of the two lakehouse disciplines:

    - mode="cow" (copy-on-write, the default): find the files that
      CONTAIN matching rows (one scan classifying rows by file; at
      scale the manifest stats pre-prune this probe), rewrite ONLY
      those files without the matching rows, and commit a new version
      referencing every other file unchanged. Best for large deletes /
      read-heavy tables (reads stay pure scans).
    - mode="dv" (merge-on-read DELETION VECTORS, Delta/Iceberg v2
      style): write the matching rows' (file, row_index) positions as
      a deletion-vector file and commit a manifest referencing the
      SAME data files plus the DV — zero data rewritten, delete cost
      O(matches), and every reader anti-joins the DV at scan time.
      Best for small/frequent deletes; a later compact_version (or
      any copy-on-write rewrite of the file) materializes the delete
      and the DV entries go inert. Production DVs are roaring bitmaps
      in sidecars; the parquet (file, row_index) pair table here is
      the same contract with the same read-side algebra.

    Old versions still time-travel to the pre-delete rows; vacuum
    reclaims unreferenced data AND DV files. `predicate` is a SQL
    boolean expression over LOGICAL columns selecting rows to delete.
    Re-deleting already-DV'd rows is a no-op (the probe reads with
    DVs applied). Returns the new version.

    `prune=(col, op, literal)` stats-prunes the match PROBE through
    plan_files before any file opens — the explicit form of Delta's
    WHERE-clause file pruning. When NO hint is given, conjuncts are
    AUTO-DERIVED from the predicate string by _conds_from_predicate
    (top-level simple conjuncts of a pure conjunction only; quoted
    literals masked so text inside a string can never fabricate a
    conjunct; anything ambiguous harvests nothing). CONTRACT either
    way: every applied cond must be IMPLIED by `predicate` (every
    matching row satisfies it) — rows matching the predicate in
    pruned-away files would survive the delete. The correctness tests
    pin both the implied-hint and the auto-derived path;
    merge_version's key-range prune is the same mechanism.

    Reference analog: the batch-mutation loop kernel.cu:190-196 —
    state updated in place each round; here the "in place" is a
    manifest swap over immutable files."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', not {mode!r}")
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "delete_where needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    # no explicit hint: harvest implied conjuncts from the predicate
    # itself, so two writers deleting provably-disjoint ranges rebase
    # past each other instead of surfacing an OCC conflict
    prune = _effective_prune(predicate, prune)
    probe_files = (
        plan_files(table, where=prune)[0] if prune is not None else m["files"]
    )
    tagged = _read_files_logical(
        spark, table, m, probe_files, with_position=True
    )
    cond = F.expr(predicate)
    if mode == "dv":
        # persist: the probe (pruned candidate scan + filter) runs
        # ONCE, in parallel; count and the per-file DV write both
        # consume cached positions. (The r10 shape recomputed this
        # scan inside a coalesce(1) — one serial task re-reading every
        # candidate file on a wide DELETE.)
        with owned():
            matches = persist(
                tagged.filter(cond).select(
                    F.col("__file").alias("file"),
                    F.col("__row_index").alias("row_index"),
                )
            )
            n_del = matches.count()
            amm = _prune_may_match(m, prune)
            if n_del == 0:
                return _commit_rewrite(
                    spark, table, m, [], None, added_may_match=amm,
                    operation="DELETE",
                )
            new_dv, dv_map = _write_dv_files(
                matches, table, m["version"] + 1
            )
        return _commit_dv(
            spark, table, m, [], new_dv, -n_del, added_may_match=amm,
            dv_map=dv_map, operation="DELETE",
        )
    touched_names = {
        r["__file"]
        for r in tagged.filter(cond).select("__file").distinct().collect()
    }
    touched = [f for f in m["files"] if f in touched_names]
    amm = _prune_may_match(m, prune)
    if not touched:  # nothing matched: commit an explicit no-op version
        return _commit_rewrite(
            spark, table, m, [], None, added_may_match=amm,
            operation="DELETE",
        )
    survivors = _read_files_logical(spark, table, m, touched).filter(
        ~F.coalesce(cond, F.lit(False))
    )
    return _commit_rewrite(
        spark, table, m, touched, survivors, added_may_match=amm,
        operation="DELETE",
    )


def update_where(
    spark: SparkSession,
    table: str,
    set_exprs: dict[str, str],
    predicate: str,
    prune=None,  # (col, op, lit) or ANDed list of them
    mode: str = "cow",
) -> int:
    """Row-level UPDATE (the Delta UPDATE verb) in either lakehouse
    discipline: rows matching `predicate` get each column of
    `set_exprs` recomputed from its SQL expression (over LOGICAL
    columns — the expressions may reference any column, e.g.
    {"cents": "cents + 100"}).

    - mode="cow" (copy-on-write, the default): only the files
      CONTAINING matches are rewritten, everything else rides by
      reference. The same probe-classify-rewrite discipline as
      delete_where, with the rewrite applying a CASE instead of
      dropping rows. Best for wide updates / read-heavy tables.
    - mode="dv" (MERGE-ON-READ, Delta/Iceberg v2 UPDATE shape): the
      matched positions are committed as a DELETION VECTOR masking the
      old rows AND the updated rows are appended as a new file — one
      atomic manifest, ZERO existing files rewritten, update cost
      O(matches) instead of O(touched files). Readers compose the DV
      mask with the appended rows automatically (_read_files_logical);
      a later compact_version (or any rewrite of the masked file)
      materializes the update and the DV entries go inert. Best for
      frequent small updates on a huge table — the 100 TB answer to
      "reprice 50 rows" without rewriting a single data file.

    Old versions time-travel to the pre-update rows either way.
    Returns the new version. `prune=(col, op, literal)` stats-prunes
    the probe under the same implied-by-predicate contract as
    delete_where — and like delete_where, when no hint is given the
    implied conjuncts are auto-derived from the predicate string
    (quote-masked, conjunction-only; see _conds_from_predicate).
    Updating a row already DV-masked is a no-op (the probe reads with
    DVs applied).

    Reference analog: the in-place state mutation each iteration of
    kernel.cu:190-196 — rendered as a manifest swap over immutable
    files."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', not {mode!r}")
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "update_where needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    cols = [f["name"] for f in m["schema"]["fields"]]
    for c in set_exprs:
        if c not in cols:
            raise ValueError(f"SET column {c!r} not in table columns {cols}")
    # auto-derive the prune hint from simple predicates (see
    # delete_where): disjoint concurrent updates rebase, not conflict
    prune = _effective_prune(predicate, prune)
    probe_files = (
        plan_files(table, where=prune)[0] if prune is not None else m["files"]
    )
    tagged = _read_files_logical(
        spark, table, m, probe_files, with_position=True
    )
    cond = F.expr(predicate)
    if mode == "dv":
        amm = _prune_may_match(m, prune)
        with owned():
            matched = persist(tagged.filter(cond))
            n_upd = matched.count()
            if n_upd == 0:
                return _commit_rewrite(
                    spark, table, m, [], None, added_may_match=amm,
                    operation="UPDATE",
                )
            updated = matched.select(
                *[
                    F.expr(set_exprs[c]).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in cols
                ]
            )
            _check_constraints(
                updated,
                m.get("constraints", {}),
                f"merge-on-read update of {table}",
            )
            mapping, _retired, _max_id = _mapping_state(m, m["schema"])
            v = m["version"] + 1
            # the appended rows: physically materialized (partition
            # columns included), same shape as a copy-on-write rewrite.
            # Coalesce by row count — a small update must not scatter
            # its rows across one tiny file per probe task (the
            # small-files problem merge-on-read exists to avoid).
            n_files = max(1, -(-n_upd // 1_000_000))
            new_files = _write_data_files(
                _to_physical(updated.coalesce(n_files), mapping), table, v
            )
            new_dv, dv_map = _write_dv_files(
                matched.select(
                    F.col("__file").alias("file"),
                    F.col("__row_index").alias("row_index"),
                ),
                table,
                v,
            )
        # every masked row reappears updated: n_rows unchanged
        return _commit_dv(
            spark, table, m, new_files, new_dv, 0, added_may_match=amm,
            dv_map=dv_map, operation="UPDATE",
        )
    touched_names = {
        r["__file"]
        for r in tagged.filter(cond).select("__file").distinct().collect()
    }
    touched = [f for f in m["files"] if f in touched_names]
    amm = _prune_may_match(m, prune)
    if not touched:
        return _commit_rewrite(
            spark, table, m, [], None, added_may_match=amm,
            operation="UPDATE",
        )
    base = _read_files_logical(spark, table, m, touched)
    replacement = base.select(
        *[
            F.when(F.coalesce(cond, F.lit(False)), F.expr(set_exprs[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in cols
        ]
    )
    return _commit_rewrite(
        spark, table, m, touched, replacement, added_may_match=amm,
        operation="UPDATE",
    )


def merge_version(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key: str,
    batch_id: int | None = None,
    delete_predicate: str | None = None,
    mode: str = "cow",
    merge_schema: bool = False,
    not_matched_by_source: str | dict[str, str] | None = None,
    not_matched_by_source_condition: str | None = None,
) -> int:
    """MERGE INTO the versioned log, copy-on-write, in ONE commit —
    Delta's three clauses (VERDICT r9 item 3):

    - WHEN MATCHED [AND NOT delete_predicate] THEN UPDATE: rows of
      `updates` whose `key` exists in the table REPLACE the old rows
      (only the files containing a matched key are rewritten);
    - WHEN MATCHED AND delete_predicate THEN DELETE: source rows
      satisfying `delete_predicate` (a SQL boolean over the BATCH's
      columns, e.g. "op = 'd'" on a debezium-style feed) remove their
      matched target rows instead — an unmatched delete row is a
      no-op, per Delta;
    - WHEN NOT MATCHED THEN INSERT: rows with new keys are APPENDED.

    All three apply in ONE atomic commit, so a CDC batch mixing
    inserts, updates, and deletes lands as a single version. The batch
    may carry EXTRA columns beyond the table's (CDC metadata like op/
    ts, consumed by `delete_predicate`); they are projected away
    before any row is stored. Old versions time-travel to the
    pre-merge state. With `batch_id`, replayed batches are skipped
    exactly-once style (the versioned_batch_sink contract), so a
    retried CDC micro-batch cannot double-apply. Returns the committed
    (or already-committed) latest version.

    The match PROBE is stats-pruned automatically: the update batch's
    key [min, max] (one cheap 1-row agg) excludes every file whose
    manifest key range cannot intersect it — footer min/max are exact,
    so the exclusion is sound, and a point-merge into a key-clustered
    table probes O(1) files instead of O(table). Files without key
    stats stay in conservatively.

    mode="dv" (MERGE-ON-READ, the Iceberg v2 position-delete shape):
    instead of rewriting the files containing matched keys, the
    matched rows' positions are committed as a DELETION VECTOR and the
    upsert rows are appended — one atomic manifest, ZERO data files
    rewritten, merge cost O(batch + matches) regardless of file sizes.
    The read side composes mask + appends automatically; a later
    compaction materializes. Best for frequent small CDC batches into
    huge files; mode="cow" (default, the Delta shape) keeps reads
    pure scans. DV-mode commits rebase lost races when provably
    disjoint — even two writers masking different rows of the SAME
    file both commit (_commit_dv).

    `merge_schema=True` (Delta's schema.autoMerge for MERGE, VERDICT
    r10 Missing #3 — the standard CDC-ingest shape): the batch's EXTRA
    columns are ADOPTED into the table schema in the SAME commit —
    new columns get fresh mapping ids (a re-added dropped name gets a
    fresh physical, never resurrecting old bytes), existing columns
    may widen along the _merged_schema lattice, carried files
    null-fill on read, and time travel shows the pre-merge schema.
    Without the flag (default), extra batch columns keep the existing
    contract: CDC metadata only — consumable by `delete_predicate`,
    never stored, never schema-changing. NOTE: with the flag, EVERY
    extra column is adopted, including op/ts metadata — drop metadata
    columns before merging with merge_schema=True.

    `not_matched_by_source` (VERDICT r11 Missing #5 — Delta's THIRD
    clause family, WHEN NOT MATCHED BY SOURCE, the dimension-sync
    shape): acts on TARGET rows whose key is absent from the batch.
    Pass the string "delete" to delete them, or a {column: sql_expr}
    dict to UPDATE SET them in place (exprs evaluate over the OLD
    target row — e.g. {"active": "false", "closed_n": "closed_n + 1"}
    — and cast back to the column's declared type).
    `not_matched_by_source_condition` (a SQL boolean over the TARGET
    row) restricts which absent rows the clause touches, exactly like
    Delta's WHEN NOT MATCHED BY SOURCE AND <cond>. Both modes honor
    it: cow rewrites only the files holding affected rows; dv masks
    the affected positions (update additionally appends the rewritten
    images). Because the clause reads rows the batch does NOT name,
    the transaction's read set is the whole table — the commit's OCC
    probe therefore treats ANY interleaved add as a conflict (no
    added_may_match pruning), the sound posture for a full-table
    predicate."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be 'cow' or 'dv', not {mode!r}")
    if not_matched_by_source is not None:
        if not_matched_by_source != "delete" and not (
            isinstance(not_matched_by_source, dict) and not_matched_by_source
        ):
            raise ValueError(
                "not_matched_by_source must be 'delete' or a non-empty "
                "{column: sql_expr} dict"
            )
    elif not_matched_by_source_condition is not None:
        raise ValueError(
            "not_matched_by_source_condition needs a "
            "not_matched_by_source clause"
        )
    if batch_id is not None and batch_id in committed_batch_ids(table):
        return versions(table)[-1]
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "merge_version needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    table_cols = [f["name"] for f in m["schema"]["fields"]]
    missing = [c for c in table_cols if c not in updates.columns]
    if missing:
        raise ValueError(
            f"merge updates missing table columns {missing} "
            f"(table columns: {sorted(table_cols)})"
        )
    schema_evo = None
    target_cols = table_cols
    if merge_schema:
        new_schema = _merged_schema(m["schema"], updates.schema.jsonValue())
        if new_schema != m["schema"]:
            evo_mapping, evo_retired, evo_max = _mapping_state(
                m, m["schema"]
            )
            evo_max = _assign_new_columns(
                new_schema, evo_mapping, evo_retired, evo_max
            )
            schema_evo = {
                "schema": new_schema,
                "column_mapping": evo_mapping,
                "retired_physical": evo_retired,
                "max_column_id": evo_max,
            }
            target_cols = [f["name"] for f in new_schema["fields"]]
    if delete_predicate is not None:
        dcond = F.coalesce(F.expr(delete_predicate), F.lit(False))
        deletes = updates.filter(dcond)
        updates = updates.filter(~dcond).select(*target_cols)
    else:
        deletes = None
        updates = updates.select(*target_cols)
    # Delta MERGE raises on multiple source rows matching one target
    # row; silently committing both would duplicate the key (ADVICE
    # r9) — and an update + delete for one key would be order-
    # ambiguous. Callers with genuinely multi-row CDC batches must
    # collapse to last-writer-wins BEFORE merging.
    all_key_rows = updates.select(key)
    if deletes is not None:
        all_key_rows = all_key_rows.unionByName(deletes.select(key))
    dup = (
        all_key_rows.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge updates contain multiple rows for key "
            f"{key}={dup[0][key]!r}; MERGE requires at most one source "
            "row per key — deduplicate the batch first"
        )
    # keys drive BOTH the touched-file probe and the anti-join: a
    # deleted key's old row must vanish (anti-joined, not re-added).
    if isinstance(not_matched_by_source, dict):
        bad = [c for c in not_matched_by_source if c not in target_cols]
        if bad:
            raise ValueError(
                f"not_matched_by_source SET columns {bad} not in table "
                f"columns {sorted(target_cols)}"
            )
        if key in not_matched_by_source:
            raise ValueError(
                "not_matched_by_source must not SET the merge key"
            )
    keys = all_key_rows.distinct()
    krange = all_key_rows.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).collect()[0]
    candidates = m["files"]
    amm = None
    if not_matched_by_source is not None:
        # the by-source clause predicates on rows the batch does NOT
        # name: the read set is every file, and no interleaved add can
        # be proven irrelevant — keep candidates whole and amm None
        krange = {"lo": None, "hi": None}
    if krange["lo"] is not None:
        mapping, _, _ = _mapping_state(m, m["schema"])
        phys_key = {mp["name"]: mp["physical"] for mp in mapping}.get(key, key)

        def _key_range_may_match(fstats: dict | None) -> bool:
            return _file_may_match(
                fstats, phys_key, ">=", krange["lo"]
            ) and _file_may_match(fstats, phys_key, "<=", krange["hi"])

        amm = _key_range_may_match
        fstats = m.get("file_stats", {})
        candidates = [f for f in m["files"] if _key_range_may_match(fstats.get(f))]
    tagged = _read_files_logical(
        spark, table, m, candidates, with_position=True
    )
    # WHEN NOT MATCHED BY SOURCE machinery, shared by both modes: the
    # clause condition over the TARGET row (absent-from-source rows
    # satisfying it are acted on) and the SET projection for the
    # update form (exprs see the OLD row; cast back to the declared
    # column type so a SQL literal can't drift the schema).
    commit_schema = schema_evo["schema"] if schema_evo else m["schema"]
    col_types = {f["name"]: f["type"] for f in commit_schema["fields"]}
    bys_cond = None
    if not_matched_by_source is not None:
        bys_cond = (
            F.coalesce(
                F.expr(not_matched_by_source_condition), F.lit(False)
            )
            if not_matched_by_source_condition is not None
            else F.lit(True)
        )

    def _bys_set_projection(df: DataFrame) -> DataFrame:
        have = set(df.columns)
        cols = []
        for c in target_cols:
            if c in not_matched_by_source:
                e = F.expr(not_matched_by_source[c])
                t = col_types.get(c)
                if isinstance(t, str):
                    e = e.cast(t)
                cols.append(e.alias(c))
            elif c in have:
                cols.append(F.col(c))
            # else: a just-adopted (merge_schema) column the carried
            # row predates — omitted; unionByName(allowMissing...)
            # null-fills it downstream
        return df.select(*cols)

    if mode == "dv":
        with owned():
            mask_pos = tagged.join(keys, key, "left_semi").select(
                F.col("__file").alias("file"),
                F.col("__row_index").alias("row_index"),
            )
            appended = updates
            if not_matched_by_source is not None:
                # live target rows absent from the batch, clause-filtered;
                # DVs already applied by _read_files_logical so a masked
                # row can't be re-deleted or re-written
                bysrc = persist(
                    tagged.join(keys, key, "left_anti").filter(bys_cond)
                )
                mask_pos = mask_pos.unionByName(
                    bysrc.select(
                        F.col("__file").alias("file"),
                        F.col("__row_index").alias("row_index"),
                    )
                )
                if isinstance(not_matched_by_source, dict):
                    # update form: mask the old position AND append the
                    # rewritten image (position-delete + insert, the
                    # Iceberg v2 update shape)
                    rewritten = _bys_set_projection(
                        bysrc.drop("__file", "__row_index")
                    )
                    appended = updates.unionByName(
                        rewritten, allowMissingColumns=schema_evo is not None
                    ).select(*target_cols)
            matched = persist(mask_pos)
            n_masked = matched.count()
            n_app = appended.count()
            if n_masked == 0 and n_app == 0:
                # no-op commit still records batch_id: a replayed
                # empty/unmatched CDC batch must hit the exactly-once
                # ledger, not mint a fresh version per replay
                return _commit_rewrite(
                    spark, table, m, [], None, added_may_match=amm,
                    operation="MERGE",
                    **({} if batch_id is None else {"batch_id": batch_id}),
                )
            _check_constraints(
                appended, m.get("constraints", {}), f"merge into {table}"
            )
            if schema_evo is not None:
                mapping = schema_evo["column_mapping"]
            else:
                mapping, _retired, _max_id = _mapping_state(m, m["schema"])
            v = m["version"] + 1
            # row-count-aware coalesce: a small CDC batch lands as ONE
            # file, not one tiny file per upstream task
            new_files = (
                _write_data_files(
                    _to_physical(
                        appended.coalesce(max(1, -(-n_app // 1_000_000))),
                        mapping,
                    ),
                    table,
                    v,
                )
                if n_app
                else []
            )
            new_dv: list[str] = []
            dv_map: dict[str, list[str]] = {}
            if n_masked:
                new_dv, dv_map = _write_dv_files(matched, table, v)
        return _commit_dv(
            spark,
            table,
            m,
            new_files,
            new_dv,
            n_app - n_masked,
            added_may_match=amm,
            dv_map=dv_map,
            schema_evolution=schema_evo,
            operation="MERGE",
            **({} if batch_id is None else {"batch_id": batch_id}),
        )
    sel = tagged.join(keys, key, "left_semi").select("__file")
    if not_matched_by_source is not None:
        # files holding by-source-affected rows rewrite too
        sel = sel.unionByName(
            tagged.join(keys, key, "left_anti")
            .filter(bys_cond)
            .select("__file")
        )
    touched_names = {
        r["__file"] for r in sel.distinct().collect()
    }
    touched = [f for f in m["files"] if f in touched_names]
    # new content = untouched rows of the touched files + EVERY update
    # row (replacements for matched keys, inserts for new keys)
    carried = _read_files_logical(spark, table, m, touched).join(
        keys, key, "left_anti"
    )
    if not_matched_by_source == "delete":
        carried = carried.filter(~bys_cond)
    elif isinstance(not_matched_by_source, dict):
        # per-row: clause rows take the SET image, others carry as-is
        kept = carried.filter(~bys_cond)
        flipped = _bys_set_projection(carried.filter(bys_cond))
        carried = kept.unionByName(
            flipped, allowMissingColumns=schema_evo is not None
        )
    # schema evolution: carried rows predate the new columns and
    # null-fill here, exactly as untouched files null-fill on read
    replacement = carried.unionByName(
        updates, allowMissingColumns=schema_evo is not None
    ).select(*target_cols)
    extra = {} if batch_id is None else {"batch_id": batch_id}
    return _commit_rewrite(
        spark, table, m, touched, replacement, added_may_match=amm,
        schema_evolution=schema_evo, operation="MERGE", **extra,
    )


def read_changes(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    key: str,
) -> DataFrame:
    """Change-data-feed between two committed versions from the
    manifests' FILE diff — reads ONLY files that differ, never the
    unchanged ones (the whole point at 100 TB: a merge touching 2 of
    20k files costs a 2-file read, not a snapshot diff). Rows living
    in files carried between the versions cancel out by construction;
    removed-file rows full-outer-join added-file rows on `key` to
    classify Insert / Update / Delete, and rewritten-but-identical
    rows (copy-on-write carryover) are filtered like
    q_cdc_snapshot_diff filters unchanged keys. Returns
    (key, op, old_<col>..., new_<col>...) sorted-stable columns."""
    vs = versions(table)
    if v_from not in vs or v_to not in vs or v_from >= v_to:
        raise ValueError(f"need committed v_from < v_to, got {v_from}->{v_to} in {vs}")
    m_from, m_to = manifest_info(table, v_from), manifest_info(table, v_to)
    files_from, files_to = set(m_from["files"]), set(m_to["files"])
    removed = [f for f in m_from["files"] if f not in files_to]
    added = [f for f in m_to["files"] if f not in files_from]
    # dataChange=false fast path: when EVERY version in the window is
    # housekeeping (OPTIMIZE / REORG PURGE — bytes moved, visible rows
    # identical by construction), the change feed is empty. Short-
    # circuit the file deltas to [] so the generic machinery below
    # yields an empty frame with the right schema and ZERO data-file
    # reads — the generic key-diff would be row-correct here too
    # (identical rows cancel in the full-outer join) but at the cost
    # of reading every rewritten byte, which for a full-table OPTIMIZE
    # is the whole table twice. MIXED windows (a compaction between
    # two DMLs) fall through to the generic diff, which stays correct
    # because it diffs ROWS, not files.
    window = list(range(v_from + 1, v_to + 1))
    housekeeping_only = all(w in vs for w in window) and all(
        manifest_info(table, w).get("data_change") is False for w in window
    )
    if housekeeping_only:
        removed, added = [], []
    old = _read_files_logical(spark, table, m_from, removed)
    new = _read_files_logical(spark, table, m_to, added)
    # deletion-vector delta: rows deleted IN PLACE in carried files
    # (merge-on-read deletes move no file, so the file diff alone
    # can't see them). Read only the carried files the new DV entries
    # actually reference, restrict to positions visible at v_from,
    # and add them to the old leg as disappearing rows.
    dv_before = set(m_from.get("dv_files", []))
    dv_delta = [
        f for f in m_to.get("dv_files", []) if f not in dv_before
    ]
    if housekeeping_only:
        # REORG PURGE retires DV objects while hiding no new row and
        # resurrecting none (the masks were applied into the rewrite);
        # without this guard the dv_removed branch below would emit
        # the purged rows as spurious inserts.
        dv_delta = []
    if dv_delta:
        dvd = _dv_table(spark, table, dv_delta).select(
            F.col("file").alias("__dv_file"),
            F.col("row_index").alias("__dv_ri"),
        )
        hit_names = {
            r["__dv_file"] for r in dvd.select("__dv_file").distinct().collect()
        }
        carried_hit = [
            f for f in m_from["files"] if f in files_to and f in hit_names
        ]
        dv_rows = (
            _read_files_logical(
                spark, table, m_from, carried_hit, with_position=True
            )
            .join(
                dvd,
                (F.col("__file") == F.col("__dv_file"))
                & (F.col("__row_index") == F.col("__dv_ri")),
                "left_semi",
            )
            .drop("__file", "__row_index")
        )
        old = old.unionByName(dv_rows)
    # deletion-vector REMOVAL delta: a restore_version undoing a
    # merge-on-read delete/update removes DV entries while moving no
    # file, RESURRECTING rows in place — invisible to both the file
    # diff and the DV-added delta above (ADVICE r10). Positions masked
    # at v_from but unmasked at v_to join the NEW leg as appearing
    # rows; _read_files_logical(m_to) applies v_to's remaining DVs, so
    # a position re-masked by a newer DV stays invisible.
    dv_after = set(m_to.get("dv_files", []))
    dv_removed = (
        []
        if housekeeping_only
        else [f for f in m_from.get("dv_files", []) if f not in dv_after]
    )
    if dv_removed:
        dvr = _dv_table(spark, table, dv_removed).select(
            F.col("file").alias("__dv_file"),
            F.col("row_index").alias("__dv_ri"),
        )
        res_names = {
            r["__dv_file"] for r in dvr.select("__dv_file").distinct().collect()
        }
        carried_res = [
            f for f in m_to["files"] if f in files_from and f in res_names
        ]
        if carried_res:
            res_rows = (
                _read_files_logical(
                    spark, table, m_to, carried_res, with_position=True
                )
                .join(
                    dvr,
                    (F.col("__file") == F.col("__dv_file"))
                    & (F.col("__row_index") == F.col("__dv_ri")),
                    "left_semi",
                )
                .drop("__file", "__row_index")
            )
            new = new.unionByName(res_rows)
    cols = [c for c in new.columns if c != key]
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full")
    changed = F.lit(False)
    for c in cols:
        if c in old.columns:
            changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    return joined.filter(
        F.col(f"o.{key}").isNull() | F.col(f"n.{key}").isNull() | changed
    ).select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        F.when(F.col(f"o.{key}").isNull(), F.lit("I"))
        .when(F.col(f"n.{key}").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        *[
            F.col(f"o.{c}").alias(f"old_{c}")
            for c in cols
            if c in old.columns
        ],
        *[F.col(f"n.{c}").alias(f"new_{c}") for c in cols],
    )


def committed_batch_ids(table: str) -> set[int]:
    """Stream batch ids already committed to this table. Each manifest
    carries the CUMULATIVE `seen_batch_ids` ledger (_commit chains it
    from its parent), so the set survives a vacuum that drops the
    individual committing manifests — a replayed micro-batch stays
    skipped after retention GC (ADVICE r9). Per-manifest `batch_id`
    keys are unioned in too for pre-ledger manifests."""
    out: set[int] = set()
    for v in versions(table):
        m = json.load(open(_manifest_path(table, v)))
        if "batch_id" in m:
            out.add(m["batch_id"])
        out.update(m.get("seen_batch_ids", []))
    return out


def versioned_batch_sink(table: str):
    """foreachBatch function giving EXACTLY-ONCE appends into the
    versioned log: Structured Streaming replays a micro-batch with the
    SAME batchId after a failure, and append_version skips batchIds the
    table's ledger already holds — the standard idempotent-sink
    contract (transaction log + batch id), on the same manifests time
    travel reads. Usage:
        df.writeStream.foreachBatch(versioned_batch_sink(path))...
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        append_version(batch_df, table, batch_id=batch_id)

    return apply_batch


def set_partitioning(
    spark: SparkSession, table: str, partition_by: list[str] | None
) -> int:
    """PARTITION SPEC EVOLUTION (Iceberg's ALTER TABLE ... ADD/REPLACE
    PARTITION FIELD): a METADATA-ONLY commit declaring how FUTURE
    appends lay out — zero files rewritten, the existing layout stays
    exactly as written. This works because the two layouts are
    self-describing per file: a file never physically stores its OWN
    spec's partition columns (hive dirs restore them, grouped per
    version subdir at read) but always stores every other column, and
    pruning is uniform manifest math — old-spec files prune on the new
    column via their footer min/max, new-spec files prune on the old
    column the same way, and each spec's own partition values are
    exact [v, v] stats. `partition_by=None`/[] evolves to
    unpartitioned. At 100 TB this is the only sane shape: re-keying a
    table's layout costs ONE manifest write now and better clustering
    only for data written after the decision — Iceberg semantics, not
    Delta's (Delta requires a full rewrite). Returns the new
    version."""
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "set_partitioning needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    pby = list(partition_by or [])
    names = [f["name"] for f in m["schema"]["fields"]]
    types = {f["name"]: f["type"] for f in m["schema"]["fields"]}
    for c in pby:  # identity entries AND transform specs (days/bucket/…)
        _validate_pspec(c, types)
    if len(pby) >= len(names):
        raise ValueError("cannot partition by every column")
    if pby == list(m.get("partition_by", [])):
        return m["version"]  # declaring the current spec is a no-op
    v = m["version"] + 1
    _commit(
        table,
        v,
        m["files"],
        m["n_rows"],
        **_carry(table, m, m["files"], partition_by=pby),
        operation="SET PARTITIONING",
    )
    return v


def reorg_purge(
    spark: SparkSession, table: str, min_mask_ratio: float = 0.1
) -> int:
    """REORG TABLE ... APPLY (PURGE), the per-file DV compaction
    threshold (Delta's answer to merge-on-read masks accreting): every
    data file whose DELETION-VECTOR mask ratio reaches
    `min_mask_ratio` is rewritten with its masks APPLIED (the rows
    physically vanish) and its DV objects retired from the manifest
    (vacuum-reclaimable); files below the threshold keep their cheap
    masks. Planning is PURE MANIFEST MATH — per-file masked counts
    come from dv_rows (recorded by _commit_dv when each DV is
    written) over file_stats["__rows"], so choosing WHAT to purge on
    a 100k-file table reads zero data or DV bytes (legacy manifests
    missing either count fall back to one footer read per gap).
    Stacked DVs can double-count an overlapping position, so the
    ratio is an upper bound — conservative in the right direction (a
    file is purged no later than it should be). Untouched files and
    their DVs carry unchanged; time travel still reads the masked
    layout. Returns the new version (the CURRENT version when nothing
    reaches the threshold — a no-op plans no commit, like Delta).

    Reference analog: none (kernel.cu holds state in device arrays);
    this is lakehouse-surface completion, VERDICT r10 Missing #4's
    final bullet."""
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "reorg_purge needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    dv_map = m.get("dv_map") or {}
    if not dv_map:
        return m["version"]  # no attributed masks: nothing to purge
    dv_rows = m.get("dv_rows") or {}
    import pyarrow.parquet as pq

    def _dv_n(dv: str) -> int:
        n = dv_rows.get(dv)
        if n is not None:
            return int(n)
        return pq.ParquetFile(os.path.join(table, dv)).metadata.num_rows

    live = set(m["files"])
    picked = []
    for f, dvs in sorted(dv_map.items()):
        if f not in live:
            continue
        n_total = file_row_count(table, m, f)
        if n_total == 0:
            continue
        if sum(_dv_n(d) for d in dvs) / n_total >= min_mask_ratio:
            picked.append(f)
    if not picked:
        return m["version"]
    # reading the picked files at the current version applies their
    # masks; the rewrite materializes the survivors and _dv_prune
    # retires the purged files' DVs from the manifest in one commit
    survivors = _read_files_logical(spark, table, m, picked)
    # dataChange=false: applying masks that already hid the rows leaves
    # the visible row set identical — housekeeping, not DML. Streams
    # and CDC skip the commit (it removes both data files and DV
    # objects, which would otherwise trip BOTH append-only guards).
    return _commit_rewrite(
        spark,
        table,
        m,
        picked,
        survivors,
        operation="REORG PURGE",
        data_change=False,
    )


def compact_version(
    spark: SparkSession,
    table: str,
    sort_col: str | None = None,
    target_files: int = 8,
    zorder_cols: tuple[str, str] | None = None,
    where=None,
    target_bytes: int | None = None,
) -> int:
    """OPTIMIZE analog: rewrite data as `target_files` files,
    range-clustered on `sort_col` when given (repartitionByRange +
    intra-file sort), and commit the result as a new version —
    small-file compaction and stats-friendly clustering in one
    log-structured commit. After compacting on a column, the
    manifest's per-file min/max ranges for it are near-disjoint, so
    `read_version(where=...)` skipping actually bites (the
    `q_zorder_layout` composition at the file level). Old versions
    still time-travel to the pre-compaction layout; vacuum reclaims
    it. Returns the new version.

    `where` (Delta's OPTIMIZE ... WHERE): one `(col, op, literal)`
    conjunct or an ANDed list SCOPING the rewrite to the files the
    predicate may touch, selected by plan_files' manifest math —
    partition values, footer stats, and hidden-partitioning transform
    domains all apply, zero data read to choose. Untouched files carry
    by reference. At 100 TB this is the only sane maintenance shape:
    compact yesterday's partition, never rewrite the table. NOTE the
    selection is file-granular and conservative-in: every file the
    predicate MAY match is rewritten whole (rows outside the predicate
    in a selected file are carried into the new files, never dropped).
    A no-op selection (or a single already-compact file when
    target_files >= its count) still commits a version, like Delta."""
    m = manifest_info(table)
    if "schema" not in m:
        raise ValueError(
            "compact_version needs a schema-tracking manifest; "
            "rewrite the table with write_version first"
        )
    added_may_match = None
    if where is not None:
        picked, _total = plan_files(table, where=where)
        # OCC hint: an interleaved append whose stats exclude the
        # predicate is provably disjoint from this scoped rewrite, so
        # nightly partition compaction coexists with live appends to
        # OTHER partitions instead of losing every race
        added_may_match = _prune_may_match(m, where)
    else:
        picked = list(m["files"])
    if target_bytes is not None:
        # Delta's OPTIMIZE file-size target: bin-count from the
        # manifest's per-file byte stats — pure metadata math, zero
        # data read to size the job (stat(2) fallback for legacy
        # manifests). The real OPTIMIZE knob is a SIZE, not a count:
        # "make ~1 GiB files" survives any table growth, a count does
        # not.
        if target_bytes <= 0:
            raise ValueError("target_bytes must be positive")
        total_b = sum(file_byte_size(table, m, f) for f in picked)
        target_files = max(1, -(-total_b // target_bytes))
    df = _read_files_logical(spark, table, m, picked)
    if zorder_cols is not None:
        # OPTIMIZE ZORDER BY (c1, ..., cn): equi-width-bucket each
        # dimension from its [min, max] (one 1-row agg — approximate
        # quantile buckets would be finer on skew, equi-width keeps
        # the whole path in codegen arithmetic), interleave the bits
        # (Morton), range-cluster files on the z value. Every file
        # then bounds ALL n dimensions, so plan_files skips on any
        # column's predicate. Bits per dimension = 16 // n (8 for the
        # classic 2-column case, 5 for 3, 4 for 4): the z value stays
        # a cheap long and the bucket resolution stays far above the
        # file count it needs to separate.
        cols = list(zorder_cols)
        if len(cols) < 2:
            raise ValueError("zorder_cols needs at least 2 columns")
        bits = max(2, 16 // len(cols))
        top = (1 << bits) - 1
        aggs = []
        for i, c in enumerate(cols):
            aggs += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
        rng = df.agg(*aggs).collect()[0]

        def bucket(c, lo, hi):
            span = max(float(hi) - float(lo), 1e-12)
            return F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - float(lo))
                    / span
                    * (top + 1)
                ).cast("long"),
            )

        zdf = df
        names = []
        for i, c in enumerate(cols):
            names.append(f"__zb{i}")
            zdf = zdf.withColumn(
                names[i], bucket(c, rng[f"lo{i}"], rng[f"hi{i}"])
            )
        n = len(cols)
        z_expr = " + ".join(
            f"shiftleft(({nm} >> {b}) & 1, {b * n + (n - 1 - i)})"
            for b in range(bits)
            for i, nm in enumerate(names)
        )
        zdf = zdf.withColumn("__z", F.expr(z_expr))
        df = (
            zdf.repartitionByRange(target_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop(*names, "__z")
        )
    elif sort_col is not None:
        df = df.repartitionByRange(target_files, F.col(sort_col)).sortWithinPartitions(sort_col)
    else:
        df = df.coalesce(target_files)
    return _commit_rewrite(
        spark,
        table,
        m,
        picked,
        df,
        added_may_match=added_may_match,
        operation="OPTIMIZE",
        # Delta's dataChange=false: this commit moves bytes, never
        # visible rows. Streaming sources and the CDC readers skip it
        # outright instead of raising append-only errors (stream) or
        # key-diffing the whole rewritten table (CDC) — the difference
        # between a no-op and a 100 TB read when OPTIMIZE runs under a
        # live readStream.
        data_change=False,
    )


def versioned_merge_sink(
    table: str, key: str, delete_predicate: str | None = None
):
    """foreachBatch function applying a CDC stream as EXACTLY-ONCE
    MERGE commits: each micro-batch upserts by `key` via
    merge_version, whose batch-id ledger skips replayed batches — the
    apply side of CDC (complementing read_changes, the extract side),
    with copy-on-write file granularity instead of append-only. With
    `delete_predicate` (e.g. "op = 'd'" over a debezium-style feed's
    op column), matched delete rows REMOVE their target rows in the
    same atomic commit — the full I/U/D apply path, one version per
    micro-batch. Usage:
        df.writeStream.foreachBatch(versioned_merge_sink(path, "k"))...
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_version(
            batch_df.sparkSession,
            table,
            batch_df,
            key,
            batch_id=batch_id,
            delete_predicate=delete_predicate,
        )

    return apply_batch


def history(table: str) -> list[dict]:
    """DESCRIBE HISTORY: one record per retained version, newest
    first — version, commit time, the OPERATION that produced it
    (recorded by every writer since round 10; older manifests report
    'UNKNOWN'), row count, and the file-level delta sizes. Pure
    manifest reads, no data touched."""
    out = []
    for v in reversed(versions(table)):
        m = json.load(open(_manifest_path(table, v)))
        out.append(
            {
                "version": v,
                "committed_at": m.get("committed_at"),
                "operation": m.get("operation", "UNKNOWN"),
                "n_rows": m.get("n_rows"),
                "n_files": len(m.get("files", [])),
                "n_added": len(m.get("added", []) or []),
                "n_removed": len(m.get("removed", []) or []),
                "batch_id": m.get("batch_id"),
                # Delta's dataChange flag: False = housekeeping commit
                # (OPTIMIZE / REORG PURGE), skipped by streams and CDC
                "data_change": m.get("data_change", True),
            }
        )
    return out


def restore_version(spark: SparkSession, table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF (the Delta RESTORE verb):
    commit a NEW head whose file list, deletion vectors, schema, and
    column mapping are exactly the target version's — metadata-only
    (zero data copied; the old files are still on disk unless
    vacuumed), the bad interval stays in history for audit, and time
    travel still reaches it. The manifest records the true file-level
    added/removed delta vs the pre-restore head, AND the CDC readers
    additionally diff deletion vectors in BOTH directions (a restore
    undoing a merge-on-read delete removes DV entries while moving no
    file — those positions re-emit as inserts), so read_changes /
    stream_cdc see every restore as the row-level undo it is. Raises
    if the target's files were already vacuumed."""
    vs = versions(table)
    if version not in vs:
        hint = (
            " (vacuumed past retention)" if vs and version < vs[0] else ""
        )
        raise ValueError(f"version {version} not in {vs}{hint}")
    target = manifest_info(table, version)
    head = manifest_info(table)
    if "schema" not in target:
        raise ValueError(
            "restore_version needs a schema-tracking target manifest"
        )
    if version == head["version"]:
        return version  # restoring the head is a no-op
    missing = [
        f
        for f in target["files"] + list(target.get("dv_files", []))
        if not os.path.exists(os.path.join(table, f))
    ]
    if missing:
        raise ValueError(
            f"cannot restore to v{version}: {len(missing)} of its files "
            f"were vacuumed (first: {missing[0]!r})"
        )
    v = head["version"] + 1
    head_files, target_files = set(head["files"]), set(target["files"])
    _commit(
        table,
        v,
        list(target["files"]),
        target["n_rows"],
        **_carry(
            table,
            target,
            target["files"],
            # verbatim, also for a pre-mapping target
            column_mapping=target.get("column_mapping", []),
            retired_physical=target.get("retired_physical", []),
            max_column_id=target.get("max_column_id", 0),
            added=[f for f in target["files"] if f not in head_files],
            removed=[f for f in head["files"] if f not in target_files],
        ),
        operation="RESTORE",
        restored_version=version,
    )
    return v


def clone_table(
    src: str, dst: str, version: int | None = None
) -> int:
    """CLONE (the Delta CREATE TABLE ... CLONE verb): a zero-copy fork
    of `src` at `version` (default head) into a brand-new table `dst`
    whose history starts at v1 = the cloned snapshot. Metadata —
    schema, column mapping, partition spec, file stats, bloom index,
    deletion vectors, constraints, and the exactly-once batch-id
    ledger — carries verbatim (all of it keys on table-RELATIVE
    paths, which are preserved), so pruning and replay-dedup work on
    the clone without recomputation, and the two tables then diverge
    independently: DML on either side rewrites only its own manifest
    and version-scoped new files.

    Zero-copy mechanism: every referenced data/DV file is HARD-LINKED
    under the same relative path (`os.link` — the same primitive the
    manifest publish uses), so no byte is copied and, unlike
    Delta's absolute-URI shallow clones, VACUUM ON EITHER SIDE IS
    SAFE: unlinking a shared file on one side only drops that side's
    link; the inode lives until the last referencing table releases
    it. Cross-device destinations (EXDEV) fall back to a real copy —
    still a correct clone, no longer zero-copy. On an object store
    the equivalent is server-side copy or absolute-URI references;
    hard links are the local-filesystem rendition of "reference,
    don't rewrite".

    Reference analog: none — kernel.cu:1-220 has no storage layer;
    table management is engine surface the north star adds."""
    import shutil

    m = manifest_info(src, version)
    if "schema" not in m:
        raise ValueError("clone_table needs a schema-tracking manifest")
    if versions(dst):
        raise ValueError(f"clone destination {dst!r} is already a table")
    to_link = list(m["files"]) + list(m.get("dv_files", []))
    missing = [
        f for f in to_link if not os.path.exists(os.path.join(src, f))
    ]
    if missing:
        raise ValueError(
            f"cannot clone v{m['version']}: {len(missing)} of its files "
            f"were vacuumed (first: {missing[0]!r})"
        )
    for rel in to_link:
        s, d = os.path.join(src, rel), os.path.join(dst, rel)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.link(s, d)
        except FileExistsError:
            raise ValueError(
                f"clone destination {dst!r} already holds {rel!r}"
            ) from None
        except OSError:  # EXDEV etc.: fall back to a real copy
            shutil.copy2(s, d)
    ledger = set(m.get("seen_batch_ids", []))
    if "batch_id" in m:
        ledger.add(m["batch_id"])
    _commit(
        dst,
        1,
        list(m["files"]),
        m["n_rows"],
        **_carry(
            dst,
            m,
            m["files"],
            column_mapping=m.get("column_mapping", []),
            retired_physical=m.get("retired_physical", []),
            max_column_id=m.get("max_column_id", 0),
            added=list(m["files"]),
        ),
        seen_batch_ids=sorted(ledger),
        operation="CLONE",
        clone_source=os.path.abspath(src),
        clone_source_version=m["version"],
    )
    return 1


def vacuum(
    table: str,
    keep_versions: int = 2,
    keep_hours: float | None = None,
    dry_run: bool = False,
) -> dict:
    """Retention GC, the Delta VACUUM analog: drop all but the newest
    `keep_versions` manifests, then delete every data file no longer
    referenced by a RETAINED manifest. Log-structured appends share
    files across versions, so liveness is computed over the retained
    manifests' union — a file referenced by both v1 and v5 survives a
    vacuum that drops v1. Ordering is crash-safe for readers of
    retained versions: manifests are deleted before the files they
    uniquely referenced, so at no point does a live manifest reference
    a missing file (a reader of a DROPPED version can race the delete
    — that is the documented retention contract, same as any
    lakehouse). Returns {"dropped_versions": [...],
    "deleted_files": n, "kept_files": n}.

    `keep_hours` (Delta's RETAIN n HOURS): additionally retain every
    version committed within the last n hours, whatever
    `keep_versions` says — the guard that keeps a misconfigured
    count-based vacuum from eating versions a reader/stream could
    still be inside. `dry_run=True` (Delta's DRY RUN) reports exactly
    what WOULD be dropped/deleted without touching a byte."""
    import time as _time

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    vs = versions(table)
    drop, keep = vs[:-keep_versions], vs[-keep_versions:]
    if keep_hours is not None:
        horizon = _time.time() - keep_hours * 3600.0
        still_young = [
            v
            for v in drop
            if (
                json.load(open(_manifest_path(table, v))).get(
                    "committed_at", 0
                )
                > horizon
            )
        ]
        if still_young:
            cut = min(still_young)  # retention is a contiguous suffix
            keep = [v for v in vs if v >= cut]
            drop = [v for v in vs if v < cut]
    live: set[str] = set()
    for v in keep:
        m = json.load(open(_manifest_path(table, v)))
        live.update(m["files"])
        live.update(m.get("dv_files", []))  # DVs are as live as data
    dead: set[str] = set()
    for v in drop:
        m = json.load(open(_manifest_path(table, v)))
        dead.update(m["files"])
        dead.update(m.get("dv_files", []))
    dead -= live
    if dry_run:
        return {
            "dropped_versions": drop,
            "deleted_files": sum(
                1 for f in dead if os.path.exists(os.path.join(table, f))
            ),
            "kept_files": len(live),
            "dry_run": True,
        }
    for v in drop:  # manifests first: nothing references dead files now
        os.unlink(_manifest_path(table, v))
    deleted = 0
    for f in sorted(dead):
        p = os.path.join(table, f)
        if os.path.exists(p):
            os.unlink(p)
            deleted += 1
    return {
        "dropped_versions": drop,
        "deleted_files": deleted,
        "kept_files": len(live),
    }


def vacuum_orphans(
    table: str, grace_seconds: float = 7 * 24 * 3600.0, dry_run: bool = False
) -> dict:
    """Remove ORPHANED files — on-disk parquet under the table that no
    retained manifest references: the debris of crashed writers (data
    files are written BEFORE the manifest commit, so a writer dying
    mid-transaction strands them) and of lost OCC races that died
    before their own cleanup ran. This is the other half of Delta's
    VACUUM (retention GC handles referenced-but-expired files; this
    handles never-referenced ones).

    `grace_seconds` is the SAFETY WINDOW, exactly Delta's modification-
    time threshold (default 7 days): a file younger than it is NEVER
    touched, because an in-flight writer's files are indistinguishable
    from orphans until its commit lands — deleting them would break a
    transaction that was about to succeed. Tests pass a tiny grace;
    production keeps the default. Returns {"orphans": [...],
    "deleted": n, "dry_run": bool} (orphans listed relative to the
    table root)."""
    import time as _time

    if grace_seconds < 0:
        raise ValueError("grace_seconds must be >= 0")
    referenced: set[str] = set()
    for v in versions(table):
        m = json.load(open(_manifest_path(table, v)))
        referenced.update(m["files"])
        referenced.update(m.get("dv_files", []))
    horizon = _time.time() - grace_seconds
    orphans: list[str] = []
    for dirpath, _dirs, names in os.walk(os.path.join(table, _DATA_DIR)):
        for n in names:
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, table)
            if rel in referenced or not n.endswith(".parquet"):
                continue
            if os.path.getmtime(p) > horizon:
                continue  # could be an in-flight writer: never touch
            orphans.append(rel)
    orphans.sort()
    if not dry_run:
        for rel in orphans:
            os.unlink(os.path.join(table, rel))
        # prune now-empty version subdirectories (cosmetic, best-effort)
        for dirpath, dirs, names in os.walk(
            os.path.join(table, _DATA_DIR), topdown=False
        ):
            if not dirs and not names:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
    return {"orphans": orphans, "deleted": 0 if dry_run else len(orphans),
            "dry_run": dry_run}


def describe_detail(table: str) -> dict:
    """DESCRIBE DETAIL (Delta's table-level summary), pure manifest
    math: head version, live file/row counts, total bytes from the
    per-file "__bytes" stats, layout declarations (partition spec —
    including hidden-partitioning transform specs verbatim — bloom
    columns, constraints), merge-on-read state (live DV objects), and
    the head commit's operation and dataChange flag. Zero data or
    footer I/O: every number is what the manifest already knows, which
    is the point — on a 100k-file table this answers instantly."""
    m = manifest_info(table)
    return {
        "version": m["version"],
        "n_versions": len(versions(table)),
        "n_files": len(m["files"]),
        "n_rows": m["n_rows"],
        "total_bytes": sum(
            file_byte_size(table, m, f) for f in m["files"]
        ),
        "partition_by": list(m.get("partition_by", [])),
        "constraints": sorted(m.get("constraints", {})),
        "bloom_cols": list(m.get("bloom_cols", [])),
        "n_dv_files": len(m.get("dv_files", [])),
        "operation": m.get("operation", "UNKNOWN"),
        "data_change": m.get("data_change", True),
    }
