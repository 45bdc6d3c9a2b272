"""Iceberg-style snapshot catalog over plain parquet.

The target environment speaks Iceberg (BASELINE.json: "Iceberg table of
interleaved text + media documents"); this sandbox has no Iceberg jars,
so this module implements the three Iceberg properties the engine
actually relies on, directly over parquet files:

  * **snapshot isolation** — a snapshot is a JSON manifest listing its
    data files; readers list files from a manifest, never from the
    directory, so concurrent writers can't expose partial output.
  * **atomic commit** — data files are written under a staging name,
    then the manifest is published by writing a tmp file and
    hard-linking it into place (link fails with EEXIST, so two
    committers racing for the same snapshot id cannot both win; the
    loser re-reads the parent and retries, Iceberg's optimistic
    concurrency — and a manifest can never be observed half-written);
    the catalog pointer (``_current``) is a one-line file advanced
    monotonically with atomic renames. A crash mid-write leaves only
    unreferenced files (staged data, orphan ``.tmp-*``), never a torn
    manifest; ``expire_snapshots`` sweeps them once they are old.
  * **time travel** — every snapshot remains readable by id
    (``read_table(..., snapshot_id=k)``); appends create a child
    snapshot referencing the parent (lineage).

The snapshot sink of the batch job is ``incremental.extract_incremental``:
one atomic snapshot per run, with the processed-doc roster committed as
an aux table in the same manifest, so a rerun extracts only unseen docs.

Not a port of Iceberg — just the minimal spec-compatible behavior the
reference's session-directory bookkeeping (step0/06_directory_manager.py)
gets replaced by (SURVEY §2.1 S10).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from dd_ops_ocr_spark.session import local_frame


def _norm_table_dir(table_dir: str) -> str:
    """Normalize a table location to a local POSIX path, or refuse loudly.

    The catalog's commit protocol is built on two POSIX atomic
    primitives: create-exclusive manifest linking (the CAS that makes
    concurrent committers safe) and rename() for the ``_current``
    pointer swap. Plain paths and ``file://`` URIs provide both. Object
    stores (s3a://, gs://) provide NEITHER — create-exclusive and rename
    are check-then-act there, which is exactly why Iceberg requires a
    metastore (Hive/Glue/JDBC/DynamoDB) to CAS its table pointer rather
    than a file. Silently degrading would corrupt tables under
    concurrency, and an unguarded open() would misread an existing
    remote table as "no snapshot" — so any remote scheme raises with
    that deployment guidance instead (same standard as
    ledger._parquet_nonempty).

    Scheme detection covers both Hadoop URI renderings — ``file:///p``
    and the no-authority ``file:/p`` form Spark prints in its own
    output — but NOT a colon inside a path segment (``tbl:v2`` stays a
    local name): a scheme is only letters/digits/+.- followed by ``:/``.
    A ``file://host/...`` URI with a real (non-localhost) authority is
    refused: that names a remote host, not this machine's POSIX tree."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):(?=/)", table_dir)
    if m is None:
        return table_dir
    scheme = m.group(1)
    if scheme == "file":
        rest = table_dir[m.end():]
        if rest.startswith("//"):
            authority, _, path = rest[2:].partition("/")
            if authority not in ("", "localhost"):
                raise NotImplementedError(
                    f"file:// URI with remote authority {authority!r} — the "
                    "catalog needs this machine's local POSIX filesystem"
                )
            return "/" + path
        return rest
    raise NotImplementedError(
        f"catalog table on {scheme}:// — the manifest CAS and pointer swap "
        "need POSIX atomicity (exclusive link + rename), which object "
        "stores do not provide. Deploy the pointer through a metastore "
        "CAS (Hive/Glue/JDBC) as Iceberg does, or mount the table dir on "
        "a POSIX filesystem (HDFS via NFS gateway, local, file://)."
    )


def _spark_url(path: str) -> str:
    """Local path → explicit ``file://`` URL for Spark-side reads/writes.

    The catalog's data files live on the driver-visible POSIX tree (see
    ``_norm_table_dir``); passing a bare path to Spark would resolve it
    against ``fs.defaultFS``, which on a real cluster is hdfs:// — the
    python-side metadata and the Spark-side data would land on two
    different filesystems. Pinning the scheme keeps both on the POSIX
    mount regardless of cluster defaults."""
    return "file://" + os.path.abspath(path)


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(table_dir, "metadata", f"snap-{snapshot_id:06d}.json")


def _current_path(table_dir: str) -> str:
    return os.path.join(table_dir, "metadata", "_current")


def current_snapshot_id(table_dir: str) -> int | None:
    table_dir = _norm_table_dir(table_dir)
    try:
        with open(_current_path(table_dir)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _read_manifest(table_dir: str, snapshot_id: int) -> dict:
    # normalized here too: jobs call this directly with user-given URIs
    with open(_manifest_path(_norm_table_dir(table_dir), snapshot_id)) as f:
        return json.load(f)


def _norm_stat(v):
    """JSON-encodable, order-preserving representation of a footer stat.

    Timestamps/dates become ISO-8601 strings (zero-padded, so
    lexicographic order == chronological order); predicate values must
    use the same representation (full ``YYYY-MM-DDTHH:MM:SS`` for
    timestamp columns — a bare date string compares inconsistently
    against padded timestamps at range edges). Bytes and other
    non-orderable payloads return None (column dropped from stats)."""
    if isinstance(v, bool) or v is None:
        return None  # booleans prune nothing useful; skip
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


def _harvest_stats(path: str) -> dict:
    """Per-file column stats from the parquet footer — no data scan.

    Returns ``{"rows": n, "columns": {col: [min, max]}}``; a column is
    included only when EVERY row group carries min/max for it (missing
    stats on any group would make the file-level range a lie)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cols: dict[str, list] = {}
    dropped: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaves: file-level range not meaningful
            st = c.statistics
            lo = _norm_stat(st.min) if st is not None and st.has_min_max else None
            hi = _norm_stat(st.max) if st is not None and st.has_min_max else None
            if lo is None or hi is None:
                dropped.add(name)
                cols.pop(name, None)
                continue
            if name in cols:
                cols[name][0] = min(cols[name][0], lo)
                cols[name][1] = max(cols[name][1], hi)
            else:
                cols[name] = [lo, hi]
    return {"rows": md.num_rows, "columns": cols}


def _write_files(df: DataFrame, table_dir: str,
                 staged: list[str]) -> tuple[list[str], dict]:
    """Write df to a unique staging dir; return the data-file names after
    moving them into data/ (names are unique, moves are renames), plus
    per-file footer stats keyed by final name (the data-skipping index,
    Iceberg's manifest-entry lower/upper bounds). Each name joins
    ``staged`` as it lands, so the commit that owns ``staged`` removes
    it if that commit fails (``_commit``)."""
    stage = os.path.join(table_dir, f"_stage-{uuid.uuid4().hex}")
    data_dir = os.path.join(table_dir, "data")
    moved, stats = [], {}
    try:
        df.write.mode("overwrite").parquet(_spark_url(stage))
        os.makedirs(data_dir, exist_ok=True)
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            final = f"{uuid.uuid4().hex}-{name}"
            stats[final] = _harvest_stats(os.path.join(stage, name))
            os.rename(os.path.join(stage, name), os.path.join(data_dir, final))
            staged.append(final)
            moved.append(final)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return moved, stats


def _snapshot_ids(table_dir: str) -> list[int]:
    # strip 'snap-' / '.json' rather than a fixed-width slice: the id is
    # zero-padded to 6 digits but grows past that at sid >= 1,000,000.
    return [int(n[5:-5]) for n in os.listdir(os.path.join(table_dir, "metadata"))
            if n.startswith("snap-") and n.endswith(".json")]


def _max_manifest_id(table_dir: str) -> int:
    try:
        return max(_snapshot_ids(table_dir), default=0)
    except FileNotFoundError:
        return 0


def _publish(table_dir: str, manifest: dict) -> int:
    """Atomically publish the manifest (commit point), then advance the
    pointer. Raises FileExistsError if another committer won this id.

    The manifest is written COMPLETELY to a tmp name, fsynced, then
    hard-linked into place — link(2) fails with EEXIST when the target
    exists, so this is the same create-exclusive CAS as O_CREAT|O_EXCL
    but the manifest file can never be observed half-written. That
    matters beyond crash hygiene: sid allocation is
    ``_max_manifest_id()+1`` and every commit loop READS the parent
    manifest it finds there, so with open-then-write a committer that
    crashed (or was merely slow) mid-``json.dump`` would leave a torn
    ``snap-*.json`` that permanently fails every later commit and read
    of that id. With link-publish a crash before the link leaves only an
    orphan ``*.tmp-*`` (never matched by ``_max_manifest_id``'s
    ``.json`` filter) and the id is simply reused."""
    os.makedirs(os.path.join(table_dir, "metadata"), exist_ok=True)
    sid = manifest["snapshot_id"]
    final = _manifest_path(table_dir, sid)
    tmp = f"{final}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
        f.flush()
        os.fsync(f.fileno())  # durable before visible
    try:
        os.link(tmp, final)  # atomic create-exclusive: EEXIST if raced
    finally:
        os.unlink(tmp)
    _advance_pointer(table_dir, sid)
    return sid


def _heal_pointer(table_dir: str) -> None:
    """Catch ``_current`` up to the newest complete manifest. A
    committer can crash in the window between manifest link (the
    commit point) and pointer advance (publication). Every claim
    allocates from ``_max_manifest_id`` and so never waits on the
    pointer, but ``compact`` and ``delete_where`` read their base
    through ``current_snapshot_id``: they heal first, so the base they
    derive from is the one their CAS compares against. No-op (one
    listdir) when the pointer is current."""
    _advance_pointer(table_dir, 0)


def _advance_pointer(table_dir: str, sid: int) -> None:
    """Monotonically advance ``_current``: never move it backwards, even
    when an older committer's rename lands after a newer one's."""
    for _ in range(8):
        cur = current_snapshot_id(table_dir) or 0
        target = max(cur, sid, _max_manifest_id(table_dir))
        if cur >= target:
            return
        cur_tmp = _current_path(table_dir) + f".tmp-{uuid.uuid4().hex}"
        with open(cur_tmp, "w") as f:
            f.write(str(target))
        os.rename(cur_tmp, _current_path(table_dir))  # atomic swap


def _same_type_ignore_null(a, b) -> bool:
    """Type equality that ignores nullability METADATA at every nesting
    level (field nullable, array containsNull, map valueContainsNull).
    Spark's DataType.__eq__ includes those flags, but they are not part
    of the logical type: a collect_list() result carries
    array<string> containsNull=False while the same data read back from
    parquet carries containsNull=True — refusing that append as a
    'schema evolution conflict on array<string> vs array<string>' is
    both wrong and unactionable."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if type(a) is not type(b):
        return False
    if isinstance(a, ArrayType):
        return _same_type_ignore_null(a.elementType, b.elementType)
    if isinstance(a, MapType):
        return (_same_type_ignore_null(a.keyType, b.keyType)
                and _same_type_ignore_null(a.valueType, b.valueType))
    if isinstance(a, StructType):
        return (
            len(a.fields) == len(b.fields)
            and all(
                fa.name == fb.name
                and _same_type_ignore_null(fa.dataType, fb.dataType)
                for fa, fb in zip(a.fields, b.fields)
            )
        )
    return a == b


def _union_schema(parent_json: str | None, df_schema) -> str:
    """Schema evolution on append/upsert (Iceberg add-column): the
    manifest schema becomes parent ∪ new. Existing columns must keep
    their types (no silent widening/retyping — nullability metadata
    excepted, see ``_same_type_ignore_null``; the parent's declared
    type wins on a pure nullability difference); columns only the new
    data has are appended and read as NULL out of older files
    (schema-on-read — `read_table` scans with the manifest schema, so
    heterogeneous file generations never need mergeSchema inference).
    Returns the union schema as JSON."""
    from pyspark.sql.types import StructType

    if not parent_json:
        return df_schema.json()
    ps = StructType.fromJson(json.loads(parent_json))
    by_name = {f.name: f for f in ps.fields}
    out = list(ps.fields)
    for f in df_schema.fields:
        prev = by_name.get(f.name)
        if prev is None:
            out.append(f)
        elif not _same_type_ignore_null(prev.dataType, f.dataType):
            raise ValueError(
                f"schema evolution conflict on column {f.name!r}: "
                f"table has {prev.dataType.simpleString()}, incoming "
                f"data has {f.dataType.simpleString()}"
            )
    return StructType(out).json()


class CommitConflict(Exception):
    """The table advanced past ``expected_parent`` before this commit
    could publish — the caller's input snapshot is stale and must be
    re-read (Iceberg's validation failure on replace operations)."""


def _listed(m: dict) -> set[str]:
    """Every ``data/`` file manifest ``m`` references: data, aux,
    positional-delete and equality-delete key files."""
    return set(m["files"]).union(
        *m.get("aux", {}).values(), m.get("delete_files", []),
        (e[0] for e in m.get("eq_delete_files", [])))


def _carry(pm: dict, parent: int | None, operation: str,
           properties: dict | None) -> dict:
    """The one manifest base: the snapshot after ``parent`` (manifest
    ``pm``, ``{}`` for a first snapshot) carries every parent field
    forward under fresh lineage, commit time and properties. An
    operation's rule (``_RULES``) then changes only its own fields."""
    return {
        "snapshot_id": (parent or 0) + 1,
        "parent_id": parent,
        "operation": operation,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "files": pm.get("files", []),
        # parent files keep their stats; pre-stats parents simply
        # contribute no entries (their files are never pruned)
        "file_stats": pm.get("file_stats", {}),
        "aux": pm.get("aux", {}),
        "delete_files": pm.get("delete_files", []),
        "eq_delete_files": pm.get("eq_delete_files", []),
        # per-file sequence numbers (Iceberg's data sequence): equality
        # deletes apply only to files SEQUENCED BEFORE them, which is
        # what lets an upsert's own appended rows survive its delete
        "file_seq": pm.get("file_seq", {}),
        # schema rides in the manifest (like Iceberg's) so a snapshot
        # whose data file list is EMPTY — e.g. a batch where every doc
        # legitimately extracted to zero rows — stays readable as an
        # empty DataFrame instead of crashing the parquet reader.
        "schema": pm.get("schema"),
        "properties": properties or {},
    }


def _overwrite(m: dict, d: dict) -> None:
    sid = m["snapshot_id"]
    m.update(files=d["files"], file_stats=d["stats"], aux=d["aux"],
             delete_files=[], eq_delete_files=[],
             file_seq={f: sid for f in d["files"]},
             schema=d["schema"].json())


def _compact(m: dict, d: dict) -> None:
    # a rewrite of DATA only: deletes (both kinds) are PURGED, since
    # compact reads through read_table, which already applied them
    # (Iceberg: rewrite removes dangling deletes); aux rides along
    _overwrite(m, {**d, "aux": {**m["aux"], **d["aux"]}})


def _append(m: dict, d: dict) -> None:
    # appending resolves nothing: the parent's delete masks still apply
    # to the carried files; the schema becomes parent ∪ new (evolution)
    sid = m["snapshot_id"]
    m["files"] = m["files"] + d["files"]
    m["file_stats"] = {**m["file_stats"], **d["stats"]}
    m["file_seq"] = {**m["file_seq"], **{f: sid for f in d["files"]}}
    m["aux"] = {k: m["aux"].get(k, []) + d["aux"].get(k, [])
                for k in {**m["aux"], **d["aux"]}}
    m["schema"] = _union_schema(m["schema"], d["schema"])


def _upsert(m: dict, d: dict) -> None:
    # a first snapshot has nothing to mask: its key file goes unlisted,
    # and _commit removes it once the publish has succeeded
    _append(m, d)
    if m["parent_id"] is not None:
        m["eq_delete_files"] = m["eq_delete_files"] + [
            [d["key_file"], d["keys"], m["snapshot_id"]]]


def _delete(m: dict, d: dict) -> None:
    m["delete_files"] = m["delete_files"] + d["delete_files"]


_RULES = {"overwrite": _overwrite, "append": _append, "compact": _compact,
          "upsert": _upsert, "delete": _delete}
# upsert and delete stage key / delete files, not a frame: they have
# their own entry points, and write_snapshot takes every other rule
_WRITE_OPS = _RULES.keys() - {"upsert", "delete"}


def _commit(table_dir: str, operation: str, stage,
            expected_parent: int | None = None) -> int | None:
    """The snapshot transaction, and the only caller of ``_publish``.

    ``stage(put)`` writes the new files through ``put(df) -> (names,
    footer stats)`` and returns the delta that ``_RULES[operation]``
    applies over the parent's manifest, or None for nothing to commit
    (then None is returned). The claim's parent is always
    ``_max_manifest_id``, so a lagging pointer never blocks a commit; a
    lost claim (``FileExistsError``) re-reads the parent and retries.
    ``expected_parent`` makes the commit compare-and-swap: it raises
    :class:`CommitConflict` once the table has moved past that id,
    checked before staging and again at every claim. However the call
    ends, a staged file stays only if this commit's linked manifest
    lists it."""
    rule = _RULES[operation]
    if expected_parent is not None and \
            (_max_manifest_id(table_dir) or None) != expected_parent:
        # fast-fail BEFORE staging: a stale caller costs no data writes
        raise CommitConflict(
            f"table advanced past snapshot {expected_parent} before staging")
    staged: list[str] = []
    m = None  # the manifest being claimed; linked once _publish returns
    try:
        delta = stage(lambda df: _write_files(df, table_dir, staged))
        while delta is not None:
            parent = _max_manifest_id(table_dir) or None
            if expected_parent is not None and parent != expected_parent:
                # the table advanced while we were staging
                raise CommitConflict(
                    f"table advanced to snapshot {parent}; "
                    f"commit was derived from {expected_parent}")
            pm = _read_manifest(table_dir, parent) if parent else {}
            m = _carry(pm, parent, operation, delta.get("properties"))
            rule(m, delta)
            try:
                _publish(table_dir, m)
                break
            except FileExistsError:
                continue  # lost the race — re-read parent and retry
    except BaseException:
        # a raise after the link (in the pointer advance) has committed:
        # keep what our linked manifest lists. Staged names are
        # uuid-prefixed, so no other commit's manifest lists them.
        try:
            m = m and _read_manifest(table_dir, m["snapshot_id"])
        except FileNotFoundError:
            m = None
        _drop_unlisted(table_dir, staged, m)
        raise
    # committed, or nothing to commit (m is None): judge by the manifest
    # in hand. Re-read, it may already be gone — expired once a later
    # snapshot carried our files forward — and they would be dropped.
    _drop_unlisted(table_dir, staged, m)
    return m and m["snapshot_id"]


def _drop_unlisted(table_dir: str, names: list[str], m: dict | None) -> None:
    """Remove the staged files ``names`` that manifest ``m`` (None: no
    manifest) does not list."""
    for n in set(names) - (_listed(m) if m else set()):
        try:
            os.remove(os.path.join(table_dir, "data", n))
        except FileNotFoundError:
            continue  # already gone — nothing staged to reclaim


_CAS_ATTEMPTS = 16


def _rederive(table_dir: str, what: str, attempt):
    """The read → derive → commit loop of ``compact`` and
    ``delete_where``: ``attempt(base)`` derives its output from
    snapshot ``base`` and commits it with ``expected_parent=base``. On
    :class:`CommitConflict` another commit landed mid-derive, and the
    whole attempt reruns against the new current, never re-publishing
    a stale derivation."""
    for _ in range(_CAS_ATTEMPTS):
        _heal_pointer(table_dir)
        try:
            return attempt(current_snapshot_id(table_dir))
        except CommitConflict:
            continue
    raise CommitConflict(f"{what} on {table_dir} lost {_CAS_ATTEMPTS} "
                         "consecutive commit races")


def write_snapshot(df: DataFrame, table_dir: str, operation: str = "overwrite",
                   properties: dict | None = None,
                   aux: dict[str, DataFrame] | None = None,
                   expected_parent: int | None = None) -> int:
    """Commit df as a new snapshot. ``overwrite`` starts a new file set;
    ``append`` unions the parent snapshot's files; ``compact`` replaces
    the data files and keeps the rest (see ``_compact``). Any other
    ``operation`` raises ValueError before anything is staged.
    Concurrent committers are safe: a snapshot id is claimed by
    exclusive manifest creation, and the loser retries against the
    re-read parent (so no commit is ever silently discarded).

    ``expected_parent`` makes the commit compare-and-swap: it only
    publishes while the table's latest snapshot is exactly that id, and
    raises :class:`CommitConflict` otherwise. Required for operations
    whose OUTPUT was derived from a snapshot read (compaction, any
    read-modify-write): a plain retry would re-commit the stale
    derivation on top of a concurrent append, silently dropping the
    appended rows.

    ``aux`` commits named side tables (e.g. a processed-doc_id roster)
    in the SAME manifest — one atomic commit covers data + aux, the
    Iceberg analogue of a snapshot carrying several manifests. Under
    ``append`` each aux file set unions the parent's files for that
    key, like the data files do; under ``compact`` (a data-only
    rewrite) the parent's aux file references are carried forward
    verbatim for every key not explicitly re-supplied — otherwise
    maintenance would silently drop side tables and a later
    expire_snapshots would reclaim their files.

    Staged files sit in ``data/`` unreferenced until the manifest link,
    the commit point. So a call that raises before its link removes
    every file it staged (data, aux and the staging dir). One that
    raises after the link, in the pointer advance, has committed: its
    files stay and readers heal the pointer. A killed process runs no
    cleanup; ``expire_snapshots`` reclaims its staged files once they
    are older than ``_ORPHAN_AGE_S``."""
    if operation not in _WRITE_OPS:
        raise ValueError(f"write_snapshot operation {operation!r}: "
                         f"expected one of {sorted(_WRITE_OPS)}")
    table_dir = _norm_table_dir(table_dir)

    def stage(put):
        files, stats = put(df)  # data first, then aux
        return {"files": files, "stats": stats, "schema": df.schema,
                "aux": {k: put(v)[0] for k, v in (aux or {}).items()},
                "properties": properties}

    return _commit(table_dir, operation, stage, expected_parent)


_OPS = {
    # conjunct survives when the file's [lo, hi] range can intersect it
    "==": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


# ISO-8601-shaped stat strings (dates/timestamps via _norm_stat). A
# predicate at a DIFFERENT granularity ('1996-01-01' vs
# '1996-01-01T00:00:00') compares lexicographically wrong at range
# edges, so pruning must fail open on length mismatch for these.
_ISO_SHAPED = re.compile(r"^\d{4}-\d{2}-\d{2}")


def plan_scan(table_dir: str, predicates, snapshot_id: int | None = None,
              manifest: dict | None = None):
    """File-skipping scan plan: keep only the data files whose footer
    min/max ranges can satisfy ALL conjuncts (Iceberg's manifest-bound
    pruning; the catalog-level analogue of parquet row-group skipping).

    ``predicates`` is a list of ``(column, op, value)`` with op in
    ``== < <= > >=``. Values must use the stats representation —
    numbers/strings as-is, timestamps as full ISO-8601 strings (see
    ``_norm_stat``). Files without stats for a referenced column are
    conservatively KEPT, so pruning is always a superset of the true
    match set; callers still apply the real filter. Returns
    ``(kept_paths, total_file_count)``. ``manifest`` lets a caller that
    already parsed the snapshot manifest (read_table) avoid a second
    metadata read — at a million files that parse is not free."""
    table_dir = _norm_table_dir(table_dir)
    if manifest is not None:
        m = manifest
    else:
        sid = (snapshot_id if snapshot_id is not None
               else current_snapshot_id(table_dir))
        if sid is None:
            raise FileNotFoundError(f"no committed snapshot in {table_dir}")
        m = _read_manifest(table_dir, sid)
    stats = m.get("file_stats", {})
    kept = []
    for name in m["files"]:
        cols = stats.get(name, {}).get("columns", {})
        keep = True
        for col, op, val in predicates:
            rng = cols.get(col)
            if rng is None:
                continue  # no stats for this column — cannot prune
            lo, hi = rng
            if type(lo) is not type(val) and not (
                isinstance(lo, (int, float)) and isinstance(val, (int, float))
            ):
                continue  # mismatched representation — cannot prune safely
            if isinstance(lo, str) and (
                _ISO_SHAPED.match(lo) or _ISO_SHAPED.match(val)
            ) and not (len(lo) == len(hi) == len(val)):
                continue  # mixed ISO granularity — cannot prune safely
            if not _OPS[op](lo, hi, val):
                keep = False
                break
        if keep:
            kept.append(os.path.join(table_dir, "data", name))
    return kept, len(m["files"])


def read_table(spark: SparkSession, table_dir: str,
               snapshot_id: int | None = None,
               where=None) -> DataFrame:
    """Read a snapshot (default: current) — file list comes from the
    manifest, so in-flight writers are invisible.

    ``where`` (optional ``(column, op, value)`` conjuncts, see
    ``plan_scan``) prunes data files by footer stats BEFORE Spark ever
    opens them — at 100 TB this is the difference between listing a
    million files and reading the dozen a date-range query touches.
    Pruning is file-granular and conservative: the result may contain
    rows outside the predicate, so callers apply the real ``.filter``
    on top (exactly Iceberg's contract with its scan planning)."""
    table_dir = _norm_table_dir(table_dir)
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    m = _read_manifest(table_dir, sid)
    if where:
        paths, _total = plan_scan(table_dir, where, manifest=m)
    else:
        paths = [os.path.join(table_dir, "data", f) for f in m["files"]]
    if not paths:
        return _empty_df(spark, m)
    df = _read_data(spark, m, paths)
    return _apply_deletes(spark, table_dir, m, df)


def _read_data(spark: SparkSession, m: dict, paths: list) -> DataFrame:
    """Scan data files under the MANIFEST schema (schema-on-read):
    files from before an add-column evolution are missing the newer
    columns and yield NULLs for them — no mergeSchema inference pass
    over a million footers, and no dependence on which file Spark
    samples first."""
    from pyspark.sql.types import StructType

    reader = spark.read
    if m.get("schema"):
        reader = reader.schema(StructType.fromJson(json.loads(m["schema"])))
    return reader.parquet(*[_spark_url(p) for p in paths])


def _apply_deletes(spark: SparkSession, table_dir: str, m: dict,
                   df: DataFrame) -> DataFrame:
    """Merge-on-read masking at scan time — no data file is ever
    rewritten by a delete; compaction is what folds masks in.

    * positional deletes (`delete_files`): left-anti join on (file
      basename, in-file row ordinal) from the hidden ``_metadata``
      columns (Iceberg v2 position deletes);
    * equality deletes (`eq_delete_files`, committed by `upsert`):
      left-anti join on the key columns, restricted BY SEQUENCE — a
      delete masks only data files sequenced strictly before it
      (``file_seq``), which is exactly what lets an upsert's own
      appended rows carry the same keys and survive.

    Every delete side is tiny relative to the table, so AQE broadcasts
    the anti-joins."""
    pos = m.get("delete_files", [])
    eqs = m.get("eq_delete_files", [])
    if not pos and not eqs:
        return df
    cols = df.columns
    return _mask_deletes(spark, table_dir, m, _with_scan_meta(df)) \
        .select(*cols)


def _with_scan_meta(df: DataFrame) -> DataFrame:
    """Attach the (file basename, in-file row ordinal) helper columns
    the delete masks join on, from Spark's hidden ``_metadata``."""
    return df.withColumn(
        "__cat_file",
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
    ).withColumn("__cat_pos", F.col("_metadata.row_index"))


def _mask_deletes(spark: SparkSession, table_dir: str, m: dict,
                  df: DataFrame) -> DataFrame:
    """The masking core, on a df that already carries
    ``__cat_file``/``__cat_pos`` (kept in the output so callers that
    need row positions — delete_where — can mask BEFORE finding rows:
    a row already invisible through either mask kind must not be
    findable, or re-deletes double-count)."""
    pos = m.get("delete_files", [])
    eqs = m.get("eq_delete_files", [])
    if pos:
        dels = spark.read.parquet(*[
            _spark_url(os.path.join(table_dir, "data", f)) for f in pos
        ])
        df = df.join(
            dels,
            (F.col("__cat_file") == dels["file"])
            & (F.col("__cat_pos") == dels["pos"]),
            "left_anti",
        )
    if eqs:
        seq_map = m.get("file_seq", {})
        files_df = local_frame(
            spark,
            [(k, int(v)) for k, v in seq_map.items()],
            "__cat_file string, __cat_seq long",
        )
        df = df.join(F.broadcast(files_df), "__cat_file", "left") \
               .fillna({"__cat_seq": 0})
        for name, key_cols, dseq in eqs:
            d = (
                spark.read.parquet(
                    _spark_url(os.path.join(table_dir, "data", name))
                )
                .select(*[F.col(c).alias(f"__del_{c}") for c in key_cols])
            )
            cond = F.col("__cat_seq") < F.lit(int(dseq))
            for c in key_cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__del_{c}"))
            df = df.join(d, cond, "left_anti")
        df = df.drop("__cat_seq")
    return df


def _empty_df(spark: SparkSession, manifest: dict) -> DataFrame:
    from pyspark.sql.types import StructType

    schema_json = manifest.get("schema")
    if schema_json is None:
        raise FileNotFoundError(
            "snapshot has no data files and no recorded schema"
        )
    return local_frame(spark, [], StructType.fromJson(json.loads(schema_json)))


def read_aux(spark: SparkSession, table_dir: str, name: str,
             snapshot_id: int | None = None) -> DataFrame | None:
    """Read an aux side table committed with the snapshot (default:
    current). Returns None when the snapshot has no such aux component
    (pre-aux tables stay readable)."""
    table_dir = _norm_table_dir(table_dir)
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(table_dir)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    m = _read_manifest(table_dir, sid)
    files = m.get("aux", {}).get(name)
    if not files:
        return None
    paths = [os.path.join(table_dir, "data", f) for f in files]
    return spark.read.parquet(*[_spark_url(p) for p in paths])


def compact(spark: SparkSession, table_dir: str, num_files: int = 1,
            sort_by: list[str] | None = None) -> int:
    """Rewrite the current snapshot's data into ``num_files`` files and
    commit the result as a new ``compact`` snapshot (Iceberg's
    rewrite_data_files). The row set is unchanged; old snapshots stay
    time-travelable because their files are never touched — reclaiming
    them is ``expire_snapshots``'s job.

    At 100 TB this is the small-files maintenance loop: streaming /
    per-bucket commits accumulate many sub-optimal files, and compaction
    restores fat scan-friendly files WITH fresh footer stats. Passing
    ``sort_by`` additionally range-clusters rows across the rewritten
    files (repartitionByRange + in-file sort), which is what makes
    ``plan_scan`` pruning effective on those columns afterwards.

    Safe under concurrent appends: the commit is CAS'd on the snapshot
    the rewrite actually read (``expected_parent``), and on conflict the
    whole read-rewrite-commit loop retries against the new current —
    never re-publishing a stale row set (which would silently drop the
    concurrent append's rows, then let ``expire_snapshots`` reclaim
    them)."""
    table_dir = _norm_table_dir(table_dir)

    def attempt(base):
        df = read_table(spark, table_dir, snapshot_id=base)
        if sort_by:
            df = df.repartitionByRange(
                num_files, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(num_files)
        return write_snapshot(
            df, table_dir, operation="compact", expected_parent=base
        )

    return _rederive(table_dir, "compact", attempt)


def delete_where(spark: SparkSession, table_dir: str, condition) -> int:
    """MERGE-ON-READ row deletes (Iceberg v2 positional deletes): find
    the (file, in-file position) of every current row matching
    ``condition`` (a SQL expression string or Column), write them as
    positional delete files, and commit a ``delete`` snapshot whose
    DATA files are untouched. Readers mask the positions (read_table's
    anti-join); ``compact`` folds the mask in physically and purges it;
    ``expire_snapshots`` reclaims unreferenced delete files.

    Why this shape at 100 TB: deleting 0.01% of rows (a takedown, a
    GDPR request, a bad-crawl purge) must not rewrite 100 TB of
    parquet. Position deletes cost one scan to FIND the rows and a few
    KB to persist them; the rewrite happens later, amortized into the
    compaction the table needed anyway.

    The commit is CAS'd on the snapshot the positions were computed
    against: a concurrent append would otherwise vanish from our
    carried file list, and a concurrent compact invalidates positions
    outright — on either, the whole find-and-commit retries against
    the new current. Re-deleting an already-masked row is a no-op (new
    positions are anti-joined against existing delete files); if
    nothing new matches, no snapshot is committed and the current id
    is returned. Returns the committed (or current) snapshot id."""
    table_dir = _norm_table_dir(table_dir)
    cond = F.expr(condition) if isinstance(condition, str) else condition

    def attempt(base):
        if base is None:
            raise FileNotFoundError(f"no committed snapshot in {table_dir}")
        m = _read_manifest(table_dir, base)
        if not m["files"]:
            return base  # nothing to delete from
        df = _with_scan_meta(_read_data(spark, m, [
            os.path.join(table_dir, "data", f) for f in m["files"]
        ]))
        # mask FIRST (both delete kinds, same joins readers apply):
        # rows already invisible — positionally deleted, or replaced by
        # an upsert's equality delete — must not be findable, or a
        # re-delete double-counts them and commits a snapshot for rows
        # nobody could see
        df = _mask_deletes(spark, table_dir, m, df)
        # prefixed helper names so a table column named file/pos can't
        # collide; the persisted delete-file schema is (file, pos)
        hits = df.filter(cond).select(
            F.col("__cat_file").alias("file"),
            F.col("__cat_pos").alias("pos"),
        )

        def stage(put):
            # single find scan: write the positions, then read the count
            # off the staged files' parquet footers (a .count() here
            # would run the whole table scan a second time)
            files, stats = put(hits.coalesce(1))
            n = sum(stats[f]["rows"] for f in files)
            if n == 0:
                return None  # everything already masked (or no match)
            return {"delete_files": files,
                    "properties": {"deleted_rows": n}}

        sid = _commit(table_dir, "delete", stage, expected_parent=base)
        return base if sid is None else sid

    return _rederive(table_dir, "delete_where", attempt)


def upsert(spark: SparkSession, table_dir: str, df: DataFrame,
           keys: list[str]) -> int:
    """Atomic MERGE-by-key (Iceberg v2 upsert): ONE snapshot that
    equality-deletes the incoming keys from every prior data file and
    appends ``df``'s rows. Readers of the new snapshot see exactly
    "old rows whose key is not in df, plus df" — there is no
    intermediate state where the keys are deleted but the new rows
    absent, because both land in the same manifest publish.

    No find scan: unlike `delete_where`, the mask is the key set
    itself (keyed, not positional), so the write cost is O(|df|)
    regardless of table size — the shape a streaming CDC sink needs.
    Sequence numbers scope the delete: it masks only files sequenced
    before this commit, so df's own rows (same keys, same snapshot)
    survive. Concurrent upserts serialize through the manifest claim;
    on a key contested by two upserts the later sequence wins.
    Retry after a lost claim is safe — nothing here is
    position-dependent, and a concurrent compact's rewritten files
    sequence BELOW this commit, so the mask still applies to them.

    Upserting into an empty/nonexistent table degrades to a plain
    first snapshot. Returns the committed snapshot id. A call that
    raises removes the data and key files it staged, by
    ``write_snapshot``'s rule: unless its linked manifest lists them."""
    table_dir = _norm_table_dir(table_dir)

    def stage(put):
        files, stats = put(df)
        # the delete-key file derives from the JUST-STAGED parquet, not
        # from df again — df may be an arbitrarily expensive plan (a CDC
        # sink passes a groupBy/max_by per epoch) and executing it twice
        # doubles every epoch's cost; the staged files are tiny local reads
        written = spark.read.parquet(*[
            _spark_url(os.path.join(table_dir, "data", f)) for f in files
        ])
        key_files, _ = put(written.select(*keys).distinct().coalesce(1))
        return {"files": files, "stats": stats, "schema": df.schema,
                "aux": {}, "key_file": key_files[0], "keys": list(keys)}

    return _commit(table_dir, "upsert", stage)


# Iceberg's remove_orphan_files default ``older_than``. A data/ file no
# manifest lists is either a killed committer's or a live one's, staged
# and not yet linked; a live committer stages and links within one run,
# so its files (and its _stage-* dir and metadata tmp files) are younger.
_ORPHAN_AGE_S = 3 * 24 * 3600


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots, then reclaim
    files (Iceberg's expire_snapshots + remove_orphan_files). Returns
    counts: ``deleted_files`` are files the expired manifests
    referenced and no surviving one does; ``orphan_files`` are what
    killed committers left — files in ``data/`` that no surviving
    manifest lists, ``_stage-*`` dirs and ``metadata/*.tmp-*`` files —
    swept only once older than ``_ORPHAN_AGE_S``, so a concurrent
    committer's staged files are never touched. The current pointer is
    never expired (keep_last is clamped to >= 1); surviving manifests
    may carry a dangling parent_id, which readers never follow."""
    table_dir = _norm_table_dir(table_dir)
    all_snaps = snapshots(table_dir)
    keep = {m["snapshot_id"] for m in all_snaps[-max(1, keep_last):]}
    # the pointer can lag behind max id only transiently; be safe anyway
    keep.add(current_snapshot_id(table_dir))
    live: set[str] = set()
    dead: set[str] = set()
    expired = 0
    for m in all_snaps:
        if m["snapshot_id"] in keep:
            live |= _listed(m)
            continue
        dead |= _listed(m)
        os.remove(_manifest_path(table_dir, m["snapshot_id"]))
        expired += 1
    data_dir = os.path.join(table_dir, "data")
    deleted = 0
    for name in dead - live:
        path = os.path.join(data_dir, name)
        if os.path.exists(path):
            os.remove(path)
            deleted += 1
    meta = os.path.join(table_dir, "metadata")
    left = [os.path.join(data_dir, n) for n in (
        os.listdir(data_dir) if os.path.isdir(data_dir) else ()
    ) if n not in live]
    left += [os.path.join(table_dir, n) for n in os.listdir(table_dir)
             if n.startswith("_stage-")]
    left += [os.path.join(meta, n) for n in os.listdir(meta) if ".tmp-" in n]
    cutoff = time.time() - _ORPHAN_AGE_S
    orphans = 0
    for path in left:
        try:
            if os.lstat(path).st_mtime < cutoff:
                (shutil.rmtree if os.path.isdir(path) else os.remove)(path)
                orphans += 1
        except FileNotFoundError:
            continue  # a concurrent sweep got there first
    return {"expired_snapshots": expired, "deleted_files": deleted,
            "orphan_files": orphans}


def snapshots(table_dir: str) -> list[dict]:
    """Snapshot lineage, oldest first."""
    table_dir = _norm_table_dir(table_dir)
    # numeric sort — lexicographic breaks once ids outgrow the 6-digit pad
    return [_read_manifest(table_dir, sid)
            for sid in sorted(_snapshot_ids(table_dir))]
