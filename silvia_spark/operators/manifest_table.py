"""Snapshot-manifest table layer — the metadata half of the lake
protocol whose file-layout half is merge_keyed / compact_partitioned
(operators/scans.py, scale_patterns.py).

Those kernels swap partition DIRECTORIES, so a reader racing a
multi-partition MERGE can see partition A merged and B not (disclosed at
scans.py's merge_keyed docstring). This module closes that gap the way
every table format does — Delta/Iceberg-style, reduced to its load-
bearing core:

- data files accumulate under Hive-style partition dirs
  (``part_col=value/part-<commit>-<n>.parquet``) with commit-unique
  names; files are IMMUTABLE and never renamed over;
- each commit writes a manifest ``_manifests/v{N}.json`` in ONE format
  (``_make_doc``'s): the read ``schema``, the partition column
  ``part_col``, the commit time ``ts`` and the descriptors of immutable
  entry-list ``segments`` (``_manifests/seg-*.json``) that together list
  exactly the files (partition value, rowcount, stats) making up
  snapshot N. Every reader takes those keys as given — a document
  without them fails at its first use;
- visibility is ONE atomic pointer flip: ``_current`` is replaced via
  write-temp + ``os.rename``. Readers resolve ``_current`` → manifest →
  file list, so a crash anywhere before the flip leaves the previous
  snapshot fully readable and the staged files invisible orphans
  (tests/test_manifest_table.py kills the commit between stage and flip
  to prove it);
- old manifests stay on disk → time travel (``read_snapshot(version=k)``)
  and safe GC (``vacuum`` deletes only files referenced by NO retained
  manifest).

Scale notes (100 TB): the manifest lists files, not rows — its size is
O(files), kept in check by compaction (``commit_compaction`` rewrites a
partition's small files through the same commit path). A MERGE's cost is
still proportional to touched partitions only: untouched partitions
contribute their existing entries to the new manifest by reference, and
the pruned scan opens only touched partitions' files. Concurrency:
every writer commits through ONE optimistic loop (``_commit``): the
writer's attempt builds the new manifest from the head, the loop claims
the version (the manifest's create-exclusive write is the CAS), flips
the pointer, and verifies AFTER the flip that the manifest committed
under its claimed version is its own (``_claim_survived``); a lost
race reloads the head and asks the attempt again. APPENDS (commit_append
and SQL INSERT) always rebuild — append entries commute. The row-level
writers — merge, update and delete (``_commit_rewrite``) — REBASE only
when their read sets are disjoint: FILE-LEVEL conflict detection proves
the interposed commits touched none of the rewrite set's (path, delete
vector) pairs and changed nothing in the table signature (r12 —
Delta's read-set/write-set disjointness on the pruned file lists;
overlaps and mid-commit schema/spec changes raise ``"<op>
conflict"``). Create, clone, compaction, restore and metadata commits
are single-writer: their segment lists bind to one parent, so a lost
race — a claim usurped by a crash-recovery replace included — raises.
Never silent loss.

Filesystem portability: every protocol-relevant filesystem touch goes
through the ``FS`` adapter (manifest_fs.py). POSIX gets O_EXCL claims,
rename-as-pointer-flip, and flock; an object store gets conditional-put
claims, plain-PUT pointer writes, copy+delete adoption, and a lease
mutex — the protocol itself is identical, and the object-store
simulator re-runs the crash/usurpation/vacuum tests flock-free
(tests/test_manifest_objectstore.py).
"""

from __future__ import annotations

import decimal
import json
import math
import os
import re
import time
import uuid
from collections.abc import Callable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silvia_spark.io import load_table, local_path as _norm
from silvia_spark.operators.manifest_fs import LeaseLost, LocalFS
from silvia_spark.registry import contract

# Filesystem adapter seam (manifest_fs.py): every protocol-relevant
# filesystem touch routes through FS. The default is POSIX; the
# object-store simulator (conditional put + lease, no O_EXCL / rename /
# flock) is proven against the same protocol tests in
# tests/test_manifest_objectstore.py. Swap per-process via
# ``manifest_table.FS = adapter``.
FS = LocalFS()

_MANIFESTS = "_manifests"
_CURRENT = "_current"
# the commit loop's rebase budget (every writer): each retry means
# another writer won a version claim in the microseconds between our
# manifest load and write
_COMMIT_RETRIES = 50
# vacuum treats an ahead-of-pointer manifest younger than this as a LIVE
# in-flight claim (kept, files kept); older ones are crashed leftovers.
# Claims normally live microseconds — a minute is orders of magnitude of
# slack, while a genuinely crashed claim is reclaimable the next minute.
_CLAIM_GRACE_SEC = 60


def _vacuum_epoch(root: str) -> int:
    """Monotone counter bumped by every vacuum (under the flip lock).
    Commits capture it BEFORE staging; the claim-time staged-file
    verification can then be skipped when the epoch is unchanged —
    vacuum is the only deleter of adopted files, and its bump happens
    under the same lock the claim holds, so unchanged epoch PROVES no
    sweep intersected the staging→claim window. This keeps the
    structural no-dangling-snapshot guarantee at O(1) instead of one
    existence probe per staged file held under the table-wide lock
    (r10 review finding: thousands of per-file HEADs under the lease
    on an object store)."""
    try:
        return int(FS.read_text(
            os.path.join(root, _MANIFESTS, ".vacuum_epoch")).strip())
    except (FileNotFoundError, ValueError):
        return 0


def _swept(root: str, paths: Sequence[str],
           staged_epoch: int | None) -> list[str]:
    """The staged ``paths`` a vacuum removed since ``staged_epoch`` was
    read. O(1) — one epoch read, no per-file probe — when provably no
    vacuum ran since before staging, the common case; per-file probes
    only happen when a sweep actually raced the commit."""
    if staged_epoch is not None and _vacuum_epoch(root) == staged_epoch:
        return []
    return [p for p in paths if not FS.exists(os.path.join(root, p))]


class CommitAborted(RuntimeError):
    """Raised at the flip when the claimed manifest no longer exists —
    the claim was vacuumed (or usurped and then vacuumed) between the
    create-exclusive write and the pointer flip. The commit wrote
    nothing visible; the commit loop rebases appenders on it."""


class MetadataCommitRaced(RuntimeError):
    """Raised by _commit_metadata when it lost its version to a
    concurrent commit — the precise lost-race outcome retry loops
    may safely re-probe on. Kept distinct from bare RuntimeError so a
    genuine bug is never swallowed as a race (r13 ADVICE, low)."""


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFESTS, f"v{version:06d}.json")


def current_version(root: str) -> int | None:
    """The committed snapshot version, or None for a non-table dir."""
    root = _norm(root)
    try:
        return int(FS.read_text(os.path.join(root, _CURRENT)).strip())
    except FileNotFoundError:
        return None


def _load_doc(root: str, version: int | None = None) -> dict:
    """The manifest DOCUMENT as written — O(segments), never resolves
    segment entry lists. The O(batch) commit paths (commit_append's txn
    check, parent segment list) depend on this staying cheap at 10⁵–10⁶
    table files."""
    root = _norm(root)
    if version is None:
        version = current_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed snapshot under {root}")
    return json.loads(FS.read_text(_manifest_path(root, version)))


def _segment_file(root: str, name: str) -> str:
    return os.path.join(root, _MANIFESTS, name)


def _read_segment(root: str, name: str) -> list[dict]:
    return json.loads(FS.read_text(_segment_file(root, name)))


def _write_segment(root: str, entries: list[dict],
                   reused: bool = False) -> dict:
    """Write one immutable entry-list segment (uuid-named, so two
    commits can never collide) and return its manifest descriptor:
    count + the distinct partition values inside + a per-column min/max
    rollup of the entries' stats. The descriptor is what rides in every
    subsequent manifest; the entry list itself is read again only by a
    commit that must REWRITE this segment (its partitions intersect a
    merge/compaction's touched set) or by a resolving reader.

    ``reused=True`` marks a segment whose entries reference data files
    that already existed in the parent snapshot (merge/compaction
    re-homes, coalescing folds). Version-diff readers (_diff_entries)
    use the flag: entries of an unmarked new segment are guaranteed-new
    files (append batches have commit-unique names) and need no
    membership check against the old snapshot."""
    FS.makedirs(os.path.join(root, _MANIFESTS))
    name = f"seg-{uuid.uuid4().hex[:16]}.json"
    if not FS.put_if_absent(
            _segment_file(root, name),
            json.dumps(sorted(entries, key=lambda e: e["path"]))):
        raise FileExistsError(name)  # uuid collision: effectively never
    desc = {"path": name, "count": len(entries),
            "partitions": sorted({e["partition"] for e in entries})}
    # Rollup a column ONLY when every entry in the segment carries stats
    # for it: segment-level pruning skips the whole entry list, so a
    # rollup that ignored a statless file would let _seg_overlaps drop a
    # file that per-entry pruning conservatively keeps — silently wrong
    # query results (r09 review finding).
    rollup: dict[str, list] = {}
    covered: dict[str, int] = {}
    mixed: set[str] = set()
    for e in entries:
        for c, (lo, hi) in e.get("stats", {}).items():
            covered[c] = covered.get(c, 0) + 1
            cur = rollup.get(c)
            if cur is None:
                rollup[c] = [lo, hi]
            elif isinstance(cur[0], str) != isinstance(lo, str):
                # legacy str-encoded decimal stats coalesced with the
                # numeric encoding cannot be ordered — drop the column
                # from the rollup (segment pruning abstains; per-entry
                # pruning still applies, itself abstaining on the
                # legacy entries via _stat_gt)
                mixed.add(c)
            else:
                cur[0], cur[1] = min(cur[0], lo), max(cur[1], hi)
    rollup = {c: v for c, v in rollup.items()
              if covered[c] == len(entries) and c not in mixed}
    if rollup:
        desc["stats"] = rollup
    if reused:
        desc["reused"] = True
    return desc


def _resolve(root: str, doc: dict) -> list[dict]:
    """Full entry list of a manifest doc — the concatenation of its
    segments. O(total files); reads and maintenance ops pay it, commits
    don't."""
    return [e for s in doc["segments"]
            for e in _read_segment(root, s["path"])]


def load_manifest(root: str, version: int | None = None) -> dict:
    """Manifest doc with ``files`` RESOLVED (segment lists concatenated)
    — the read-path view. Commit paths use ``_load_doc`` instead: the
    whole point of the segment layer is that a commit never materializes
    the full entry list."""
    root = _norm(root)
    doc = _load_doc(root, version)
    doc["files"] = _resolve(root, doc)
    return doc


def _write_doc(root: str, version: int, doc: dict,
               occ: bool = False,
               verify_paths: list[str] | None = None,
               staged_epoch: int | None = None) -> None:
    """Write-once version claim, taken UNDER the flip lock with the
    committed-pointer check inside: the pointer cannot advance between
    the check and the put (flips and vacuum hold the same lock), so a
    claim can never land at or behind the committed pointer. Without
    this, a stale committer whose target version had committed AND been
    vacuum-retired could re-create v{N}.json behind the pointer and its
    post-flip _claim_survived would report success for a commit that
    never became visible — and any withdrawal heuristic for such a
    claim can be tricked into deleting a manifest that a resumed
    stalled flipper just made current (both r09 review findings; the
    lock closes the whole family). The conditional put keeps two
    writers racing the same version an explicit error instead of
    silent last-wins. With ``occ=False`` (single-writer commits) one
    recovery exception applies: a manifest AHEAD of the committed
    pointer is PRESUMED a leftover from a crash between manifest-write
    and pointer-flip (it was never visible to any reader) — a
    re-applied commit may replace it. The presumption can be wrong
    (the manifest may be a LIVE appender's claim); that is safe because
    every committer re-checks its claim after the flip via
    ``_claim_survived`` — a usurped appender rebases and retries
    instead of silently losing its batch. With ``occ=True`` (concurrent
    appenders) FileExistsError always propagates as the conflict
    signal."""
    FS.makedirs(os.path.join(root, _MANIFESTS))
    path = _manifest_path(root, version)
    with FS.locked(root):
        cur = current_version(root)
        if cur is not None and cur >= version:
            raise FileExistsError(
                f"version {version} is already committed "
                f"(current={cur}) — stale parent; reload and rebase")
        if verify_paths is not None:
            # Adoption is lock-free, so a vacuum can in principle sweep
            # a freshly adopted file before this claim lands (the mtime
            # refresh at adoption makes that a milliseconds-vs-60s race,
            # but unlikely is not impossible). Re-checking existence
            # HERE — under the same lock vacuum holds for its whole
            # sweep — makes publishing a snapshot that references
            # deleted files structurally impossible: after this check
            # the claim lands under the lock, and a young claim's files
            # are grace-protected by vacuum's triage (r09 advice).
            missing = _swept(root, verify_paths, staged_epoch)
            if missing:
                raise CommitAborted(
                    f"{len(missing)} staged file(s) vanished before the "
                    f"v{version} claim (vacuumed as aged orphans?): "
                    f"{missing[:3]} — nothing became visible; restage "
                    "and retry")
        if not occ and FS.exists(path):
            # ahead-of-pointer leftover (pointer re-checked above,
            # under the same lock a reclaim would take): replace it
            try:
                FS.remove(path)
            except FileNotFoundError:
                pass
        if not FS.put_if_absent(path, json.dumps(doc, indent=1)):
            raise FileExistsError(path)


def _make_doc(version: int, parent: int | None,
              segments: list[dict],
              txns: dict[str, int] | None = None,
              commit_id: str | None = None,
              schema: str | None = None,
              stats_cols: list[str] | None = None,
              op: str | None = None) -> dict:
    doc: dict = {"version": version, "parent": parent,
                 "segments": segments,
                 # commit wall time + operation kind: what
                 # table_history lists and timestamp time travel
                 # resolves against (Delta's DESCRIBE HISTORY /
                 # TIMESTAMP AS OF surface). A rebased claim refreshes
                 # its ts — the recorded time is when the commit WON,
                 # which is the time a reader's as-of query means.
                 "ts": round(time.time(), 6)}
    if op:
        doc["op"] = op
    if commit_id:
        # the committer's identity for the post-flip _claim_survived
        # check — O(1), no entry-list resolution at the flip
        doc["commit_id"] = commit_id
    if schema:
        # per-version read schema (StructType.json()): evolved snapshots
        # NULL-fill files written before a column existed, and time
        # travel reads each version with the schema it committed under
        doc["schema"] = schema
    if stats_cols:
        doc["stats_cols"] = sorted(stats_cols)
    if txns:
        # highest committed batch per streaming app id — the replay
        # idempotence record commit_append consults (Delta txnAppId
        # semantics); carried forward manifest-to-manifest
        doc["txn"] = dict(sorted(txns.items()))
    return doc


def _flip_current(root: str, version: int,
                  entries: list[dict] | None = None,
                  commit_id: str | None = None) -> bool:
    """THE commit point. Everything before this is invisible staging;
    the pointer write is atomic (FS.put_atomic: write-temp + rename on
    POSIX, a plain object PUT on a store — readers never take a lock).
    The FS.locked section around check+write keeps the pointer MONOTONIC
    under concurrent appenders: without it, a delayed v2 flip could land
    after a v3 flip and hide committed data. The POSIX lock is flock
    (OS-released on process death); the object-store lock is an
    age-expired lease — either way a crashed flipper cannot wedge the
    table.

    Returns True only when this call flipped the pointer AND the
    manifest it made current is the caller's own (``commit_id`` match —
    O(1) — or ``entries`` path-set match, checked under the lock) — a
    True return therefore PROVES the commit. False means the pointer had already advanced, or the
    manifest at ``version`` was usurped before our flip (it is still a
    complete snapshot, so it is flipped for its owner); the caller
    decides with _claim_survived. Raises CommitAborted when the claimed
    manifest no longer exists (reclaimed as a stale leftover)."""
    with FS.locked(root):
        cur = current_version(root)
        if cur is not None and cur >= version:
            return False
        try:
            doc = json.loads(FS.read_text(_manifest_path(root, version)))
        except FileNotFoundError:
            raise CommitAborted(
                f"manifest v{version} vanished before its pointer flip "
                f"(reclaimed as a stale claim) — nothing became visible"
            ) from None
        if commit_id is not None:
            ours = doc.get("commit_id") == commit_id
        elif entries is not None:
            ours = ({e["path"] for e in _resolve(root, doc)}
                    == {e["path"] for e in entries})
        else:
            ours = True
        # FENCED pointer write: on POSIX this is the plain atomic
        # rename (flock cannot be broken by age); on a lease-based
        # store the write is conditional on the lease still being ours
        # AND on the pointer's own generation (value + etag CAS), and
        # the S3 port additionally verifies the claim manifest exists
        # around the write (claim_path). A stalled holder raises
        # LeaseLost for fencing violations (lease lost / pointer
        # advanced) and the RETRYABLE CommitAborted when its claim was
        # vacuum-reclaimed — appenders restage on the latter.
        try:
            FS.put_fenced(root, os.path.join(root, _CURRENT),
                          str(version),
                          claim_path=_manifest_path(root, version))
        except LeaseLost:
            # The fencing refused our write. If the pointer has since
            # advanced TO OR PAST our version, the commit may still be
            # durable — a takeover that adopted our claim flipped it
            # for us — so return False and let the caller's
            # ``_claim_survived`` fallback decide (success if our
            # commit_id sits at ``version`` in the committed chain,
            # rebase/usurped otherwise). Propagating here made a
            # stalled appender report hard failure for a batch that
            # DID commit, and its application-level retry then
            # duplicated it (r10 advice, MEDIUM). Only when the
            # pointer is still BEHIND ``version`` is nothing visible
            # and _claim_survived's commit_id match would lie —
            # genuinely indeterminate, so re-raise.
            cur2 = current_version(root)
            if cur2 is not None and cur2 >= version:
                return False
            raise
        return ours


def _reclaim_claim(root: str, version: int) -> bool:
    """Remove a presumed-crashed claim manifest — under the flip lock
    with a committed-pointer re-check, so a claim that committed in the
    microseconds before our remove can never be deleted (deleting a
    committed manifest would leave the pointer dangling and brick every
    read). Returns False when ``version`` is already committed."""
    with FS.locked(root):
        cur = current_version(root)
        if cur is not None and cur >= version:
            return False
        try:
            FS.remove(_manifest_path(root, version))
        except FileNotFoundError:
            pass
        return True


def _claim_survived(root: str, version: int,
                    entries: list[dict] | None = None,
                    commit_id: str | None = None) -> bool:
    """Post-flip check that the manifest actually committed as
    ``version`` is OURS. The create-exclusive claim can be usurped
    in one window: a non-append commit (row-level writer, compaction,
    re-applied crash recovery) may replace an AHEAD-of-pointer manifest
    it presumes crashed, between our claim and our flip. The usurper's
    snapshot is complete and consistent — but it does not contain this
    commit's batch, so reporting success would silently lose it. Every
    committer therefore verifies after the flip: appenders and
    row-level writers rebase on False, single-writer commits raise.
    Identity is the doc's ``commit_id`` (uuid per commit attempt —
    O(1), no entry resolution), or exact data-file path-set equality
    for a caller without one (commit-unique file names make that
    precise too). Missing manifest (committed then vacuumed inside
    the window) counts as not-survived — for appenders the txn record
    makes the ensuing re-commit idempotent."""
    try:
        doc = _load_doc(root, version)
    except FileNotFoundError:
        return False
    if commit_id is not None:
        return doc.get("commit_id") == commit_id
    return ({e["path"] for e in entries}
            == {e["path"] for e in _resolve(root, doc)})


def _committed_head(root: str) -> dict | None:
    """The committed head manifest doc, None while no table exists. A
    head vacuum retires between the pointer read and the load (the
    pointer moved on past it) is re-read at the new pointer."""
    for _ in range(_COMMIT_RETRIES):
        cur = current_version(root)
        try:
            return None if cur is None else _load_doc(root, cur)
        except FileNotFoundError:
            continue
    raise FileNotFoundError(
        f"the pointer under {root} named a missing manifest "
        f"{_COMMIT_RETRIES} times in a row")


def _commit(root: str, op: str,
            attempt: Callable[[dict | None], tuple | None], *,
            occ: bool, head: dict | None) -> int:
    """THE optimistic commit protocol, one loop for every writer:
    ``attempt(head)`` builds the new manifest doc from the head (None
    while no table exists) and returns the claim ``(doc, staged paths
    the claim verifies, vacuum epoch read before staging them)`` — or
    None when there is nothing to commit (a replayed txn). The loop
    stamps this commit's ``commit_id``, claims the version
    (``_write_doc``), flips the pointer and checks the committed
    manifest is ours (``_claim_survived``). Any lost race — the version
    already claimed or committed, the claim usurped before the flip, or
    (appenders) a claim vacuumed before its flip — reloads the head and
    asks ``attempt`` again; the first attempt builds on the doc the
    writer planned against, so an uncontended commit loads nothing.
    Rebase or refuse is the attempt's decision: appenders rebuild
    against any head, row-level writers rebase only while their read
    set and table signature are unchanged, and single-writer commits
    (``_once``) refuse every head but their parent.

    With ``occ=True`` (appenders) another writer's claim is a conflict:
    the loop waits out that claimer's flip window and rebases, and a v1
    claim that blocks table creation is presumed crashed after half
    the budget and reclaimed (no committed pointer exists, so vacuum
    cannot clear it; the reclaim is pointer-checked, and a reclaimed
    live creator meets CommitAborted at its flip and rebases). With
    ``occ=False`` the claim may replace an ahead-of-pointer manifest
    presumed crashed (``_write_doc``), and a vacuumed claim propagates
    CommitAborted."""
    commit_id = uuid.uuid4().hex
    for i in range(_COMMIT_RETRIES):
        if i:
            head = _committed_head(root)
        claim = attempt(head)
        if claim is None:
            return head["version"]
        newdoc, verify_paths, staged_epoch = claim
        newdoc["commit_id"] = commit_id
        version = newdoc["version"]
        try:
            _write_doc(root, version, newdoc, occ=occ,
                       verify_paths=verify_paths,
                       staged_epoch=staged_epoch)
            if (_flip_current(root, version, commit_id=commit_id)
                    or _claim_survived(root, version,
                                       commit_id=commit_id)):
                return version
        except FileExistsError:
            if occ and version == 1 and i >= _COMMIT_RETRIES // 2:
                _reclaim_claim(root, 1)
            elif occ:
                # give the claimer its flip window (otherwise every
                # rebase re-reads the same committed parent and the
                # whole budget burns inside one race)
                time.sleep(0.01)
        except CommitAborted:
            if not occ:
                raise
    raise RuntimeError(
        f"{op} lost {_COMMIT_RETRIES} version races under {root} — "
        "extreme writer contention (every claim was taken or usurped "
        "within its flip window)")


def _once(parent: dict | None, claim: tuple,
          lost: type[Exception] = RuntimeError
          ) -> Callable[[dict | None], tuple]:
    """The attempt of a single-writer commit (create, clone, restore,
    compaction, metadata): its segment list binds to ``parent``, so it
    claims only on that head, and a lost race raises ``lost``."""
    pv = parent and parent["version"]

    def attempt(head: dict | None) -> tuple:
        if (head and head["version"]) != pv:
            raise lost(
                f"{claim[0]['op']} lost v{claim[0]['version']} to a "
                "concurrent commit — the table advanced without it; "
                "re-run")
        return claim

    return attempt


def _stage_writer(df: DataFrame, part_col: str,
                  max_records: int | None = None):
    w = df.write.mode("overwrite").partitionBy(part_col)
    if max_records is not None:
        w = w.option("maxRecordsPerFile", max_records)
    return w


def _stat_val(v, round_dir: int = 0):
    """JSON-portable, order-preserving stat encoding: numbers stay
    numbers; Decimals become floats (str() would break ordering —
    '9.50' > '10.20' lexicographically, which made the merge pruner
    treat an overlapping file as disjoint and silently skip its
    updates: r10 advice, HIGH). Because a float cannot represent every
    decimal exactly, the conversion is WIDENED in ``round_dir``:
    −1 for lower bounds (file min / query lo), +1 for upper bounds
    (file max / query hi) — the encoded range always encloses the
    exact one, so pruning stays a superset. Everything else (dates,
    timestamps, strings) becomes its ISO-ish str(), whose lexicographic
    order matches the value order for those types."""
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if math.isinf(f):  # out-of-float-range decimal: no finite bound
            return f
        if round_dir < 0 and decimal.Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif round_dir > 0 and decimal.Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    return str(v)


def _stat_gt(a, b) -> bool:
    """``a > b`` when the encodings are comparable; False — meaning
    "overlaps", the conservative keep — when they mix str and numeric
    (a legacy str-encoded decimal stat vs today's numeric encoding).
    Mixed encodings cannot be ordered, so pruning abstains rather than
    raising or guessing."""
    if isinstance(a, str) != isinstance(b, str):
        return False
    return a > b


def _file_stats(path: str, cols: list[str]) -> tuple[int, dict]:
    """Footer-only read: rowcount + per-column [min, max] across row
    groups. O(footer) per file, done once at adopt time on the driver —
    the scan-pruning index readers consult instead of opening 100 TB of
    files."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in cols:
        if col not in idx:
            continue
        lo = hi = None
        for g in range(md.num_row_groups):
            s = md.row_group(g).column(idx[col]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break  # a statless row group voids the whole file's entry
            try:
                gmin, gmax = s.min, s.max
            except NotImplementedError:
                # pyarrow cannot DECODE this type's footer stats (e.g.
                # ArrowNotImplementedError on decimal physical types in
                # this build) even though has_min_max is set — treat as
                # statless: pruning conservatively keeps the file
                lo = hi = None
                break
            lo = gmin if lo is None else min(lo, gmin)
            hi = gmax if hi is None else max(hi, gmax)
        if lo is not None:
            stats[col] = [_stat_val(lo, -1), _stat_val(hi, +1)]
    return md.num_rows, stats


def _adopt_staged(root: str, stage: str, part_col: str, token: str,
                  stats_cols: list[str] | None = None) -> list[dict]:
    """Move Spark's staged partition output into the live partition dirs
    under commit-unique names; returns the new manifest entries (path,
    partition value, rowcount, and — when ``stats_cols`` is given —
    per-column min/max from the parquet footers). The staged dir names
    are Spark's own escaped partition values — adopted verbatim, no
    re-encoding (merge_keyed's proven idiom). Adopt goes through
    FS.move_in (rename on POSIX, copy+delete on an object store — safe
    either way because the destination name is commit-unique and
    invisible until the manifest lands); the footer stats read happens
    on the STAGED file, before the move."""
    entries: list[dict] = []
    prefix = f"{part_col}="
    for part_entry in sorted(FS.listdir(stage)):
        if not part_entry.startswith(prefix):
            continue  # _SUCCESS / committer metadata stay behind
        live_dir = os.path.join(root, part_entry)
        FS.makedirs(live_dir)
        value = unquote(part_entry[len(prefix):])
        for i, fname in enumerate(sorted(
                FS.listdir(os.path.join(stage, part_entry)))):
            if not fname.endswith(".parquet"):
                continue
            new_name = f"part-{token}-{i:05d}.parquet"
            src = os.path.join(stage, part_entry, fname)
            entry = {"path": f"{part_entry}/{new_name}",
                     "partition": value}
            rows, stats = _file_stats(src, stats_cols or [])
            entry["rows"] = rows
            # per-file byte size: the streaming source's
            # maxBytesPerTrigger admission control reads it from the
            # manifest instead of HEAD-ing 100 TB of files
            entry["bytes"] = os.path.getsize(src)
            if stats:
                entry["stats"] = stats
            try:
                FS.move_in(src, os.path.join(live_dir, new_name))
            except FileNotFoundError:
                # vacuum's empty-dir sweep can remove live_dir between
                # our makedirs and the move (adoption takes no lock) —
                # recreate and retry once
                FS.makedirs(live_dir)
                FS.move_in(src, os.path.join(live_dir, new_name))
            entries.append(entry)
    FS.rmtree(stage)
    return entries


def _stage_write(df: DataFrame, root: str, part_col: str,
                 max_records: int | None = None,
                 stats_cols: list[str] | None = None) -> list[dict]:
    token = uuid.uuid4().hex[:12]
    stage = os.path.join(root, f".stage-{token}")
    _stage_writer(df, part_col, max_records).parquet(stage)
    return _adopt_staged(root, stage, part_col, token, stats_cols)


def _doc_stats_cols(doc: dict) -> list[str]:
    """The stat columns this table tracks, as create_table established
    them (O(1), from metadata alone); no key means no stats index."""
    return doc.get("stats_cols", [])


class SchemaEvolutionError(TypeError):
    """Raised when an append's schema cannot compose with the table's:
    a shared column changed type, or new columns arrived while the
    caller pinned ``evolve=False``."""


class ConstraintViolation(ValueError):
    """Raised BEFORE staging when a commit's written rows violate a
    table CHECK constraint — the commit writes nothing (no staged
    files, no claim, version unchanged), so a failed write can never
    leave a half-enforced snapshot."""


# Table-level metadata every commit carries forward manifest-to-manifest
# (Delta's table-properties discipline): partition spec (+ hidden
# transform), column mapping, CHECK constraints, change-feed
# enablement. One helper so a new field cannot be forgotten by one of
# the commit paths.
_TABLE_META = ("part_col", "col_map", "constraints", "cdf_enabled",
               "part_transform")


def _carry_table_meta(newdoc: dict, doc: dict) -> None:
    for k in _TABLE_META:
        if doc.get(k) is not None:
            newdoc[k] = doc[k]


def _enforce_constraints(df: DataFrame, doc: dict, what: str) -> None:
    """Validate the rows a commit is about to write against the table's
    CHECK constraints — SQL semantics (a row passes when the predicate
    is TRUE or UNKNOWN/NULL; only FALSE violates, same as Delta). ONE
    Spark job however many constraints: every predicate is evaluated as
    a flag column on the same pass and the first violating row is
    collected with its flags, so the error names the constraint(s) and
    shows the row. Runs BEFORE staging: a violation costs the scan of
    the batch, never an orphaned file."""
    cons = doc.get("constraints") or {}
    if not cons:
        return
    # a narrow batch NULL-fills table columns it doesn't carry on
    # READ — evaluate constraints the same way (NULL passes), so a
    # predicate referencing an evolved column doesn't fail analysis
    have = set(df.columns)
    missing = {f.name: F.lit(None).cast(f.dataType)
               for f in _read_schema(doc).fields if f.name not in have}
    if missing:
        df = df.withColumns(missing)
    flags = {name: F.coalesce(F.expr(expr), F.lit(True))
             for name, expr in cons.items()}
    import functools
    import operator

    ok_all = functools.reduce(operator.and_, flags.values())
    bad = (df.withColumns({f"__ok_{n}": fl for n, fl in flags.items()})
           .where(~ok_all).limit(1).collect())
    if bad:
        row = bad[0].asDict()
        failed = sorted(n for n in cons if not row.pop(f"__ok_{n}"))
        for n in cons:
            row.pop(f"__ok_{n}", None)
        raise ConstraintViolation(
            f"{what} violates CHECK constraint(s) "
            f"{', '.join(f'{n!r} ({cons[n]})' for n in failed)}; "
            f"first violating row: {row} — nothing was committed")


def _read_schema(doc: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(doc["schema"]))


# Same-family widening ladders (Delta's type-widening tiers, the subset
# Spark's parquet readers upcast natively — verified empirically on this
# Spark: an int32 file reads cleanly under a bigint read schema, float
# under double). Cross-family promotions (int→double) are refused: they
# change value semantics (exactness), not just width.
_INT_LADDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_LADDER = {"float": 0, "double": 1}


def widens_to(from_t: str, to_t: str) -> bool:
    """True when simpleString type ``from_t`` upcasts losslessly to
    ``to_t`` within its numeric family (files written as ``from_t`` are
    readable under a ``to_t`` read schema by Spark's parquet readers and
    by the streaming source's Arrow cast)."""
    for ladder in (_INT_LADDER, _FLOAT_LADDER):
        if from_t in ladder and to_t in ladder:
            return ladder[from_t] <= ladder[to_t]
    return False


def _evolve_schema(table_schema_json: str, batch_schema,
                   evolve: bool) -> str:
    """Additive + widening schema evolution (A16's mergeSchema
    discipline inside the manifest layer): columns NEW in the batch are
    appended to the table schema; columns MISSING from the batch are
    fine (its files NULL-fill on read); a shared column whose batch
    type is WIDER in the same numeric family (int→bigint ladder,
    float→double) widens the recorded schema — older narrow files
    upcast on read — and a NARROWER batch type is accepted under the
    table's wider schema without changing it. With ``evolve=False``
    new columns and widenings are refused by policy; renames, cross-
    family promotions, and narrowing of complex types always raise.
    Returns the (possibly unchanged) schema json."""
    from pyspark.sql.types import StructType

    tbl = StructType.fromJson(json.loads(table_schema_json))
    by_name = {f.name: f for f in tbl.fields}
    new = []
    widened: dict[str, object] = {}
    for f in batch_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            new.append(f)
            continue
        ts, bs = old.dataType.simpleString(), f.dataType.simpleString()
        # simpleString strips nullability at every nesting level:
        # array containsNull / struct-field nullable differences are
        # merge-compatible (Delta ORs them; Spark's reader treats
        # read-schema nullability as advisory) and must not be
        # rejected as type changes — only genuine type drift is.
        if ts == bs or widens_to(bs, ts):
            continue  # identical, or narrower batch upcasts on read
        if widens_to(ts, bs):
            widened[f.name] = f.dataType
            continue
        raise SchemaEvolutionError(
            f"column {f.name!r}: table has {ts}, batch has {bs} — "
            "only same-family widenings (int ladder, float→double) "
            "merge; other type changes never do")
    if not new and not widened:
        return table_schema_json
    if not evolve:
        what = [f.name for f in new] + [f"{c} (widened)" for c in widened]
        raise SchemaEvolutionError(
            f"append changes columns {what} but evolve=False pins the "
            "table schema")
    from pyspark.sql.types import StructField

    out = [StructField(f.name, widened.get(f.name, f.dataType),
                       f.nullable, f.metadata) for f in tbl.fields]
    return StructType(out + new).json()


def create_table(df: DataFrame, path: str, part_col: str,
                 stats_cols: list[str] | None = None,
                 cdf: bool = False,
                 transform: str | None = None,
                 transform_n: int | None = None) -> int:
    """Materialize ``df`` as snapshot v1 of a new manifest table.
    ``stats_cols`` establishes the per-file min/max index (footer-read at
    adopt time) that ``read_snapshot(..., prune=...)`` consults; later
    commits keep collecting the same columns automatically. The manifest
    records the table schema (evolved additively by later appends) and
    the partition column. ``cdf=True`` enables the row-level change feed
    from v1 (the creation commit's rows are the feed's initial inserts);
    an existing table enables it later via ``enable_cdf``.

    ``transform`` turns on HIDDEN partitioning (Iceberg's transforms):
    the table partitions by ``days(part_col)`` / ``bucket(n, part_col)``
    / ``truncate(n, part_col)`` — the derived value lives only in the
    directory layout, never in the schema or any read, and source-column
    prunes map through the transform to directory skipping. Commits keep
    naming the SOURCE column as their part_col."""
    root = _norm(path)
    FS.makedirs(root)
    if current_version(root) is not None:
        raise FileExistsError(f"{root} is already a manifest table")
    pt = None
    staged_df, part_used = df, part_col
    if transform:
        pt = _make_transform(transform, part_col, transform_n,
                             df.columns)
        staged_df = df.withColumn(pt["col"], _transform_expr(pt))
        part_used = pt["col"]
    entries = _stage_write(staged_df, root, part_used,
                           stats_cols=stats_cols)
    segs = [_write_segment(root, entries)] if entries else []
    doc = _make_doc(1, None, segs, schema=df.schema.json(),
                    stats_cols=stats_cols, op="create")
    doc["part_col"] = part_used
    if pt:
        doc["part_transform"] = pt
    if cdf:
        doc["cdf_enabled"] = True
        doc["cdf"] = {"mode": "append"}
    # a concurrent creator that wins v1 — before our claim or by
    # replacing it before our flip — makes this raise FileExistsError
    return _commit(root, "create", _once(None, (doc, None, None),
                                         FileExistsError),
                   occ=False, head=None)


def prune_entries(entries: list[dict],
                  prune: dict[str, tuple]) -> list[dict]:
    """Driver-side file skipping from the manifest's min/max index:
    keep an entry iff every ``col: (lo, hi)`` range (either bound may be
    None) OVERLAPS the file's recorded [min, max]. Files without stats
    for a column are conservatively kept — pruning is always a superset,
    so the caller's residual filter stays correct."""
    kept = []
    for e in entries:
        stats = e.get("stats", {})
        keep = True
        for col, (lo, hi) in prune.items():
            if col not in stats:
                continue
            fmin, fmax = stats[col]
            # query bounds widen OUTWARD (hi up, lo down) so a decimal
            # bound's float encoding still encloses the exact range;
            # _stat_gt abstains (keeps) on mixed str/numeric encodings
            if ((hi is not None and _stat_gt(fmin, _stat_val(hi, +1)))
                    or (lo is not None
                        and _stat_gt(_stat_val(lo, -1), fmax))):
                keep = False
                break
        if keep:
            kept.append(e)
    return kept


# deletion-vector sidecars (merge-on-read): <root>/_deletes/dv-*.parquet,
# columns (path STRING, row_index BIGINT) — the tombstoned row positions
# of the entry-relative file ``path``. An entry referencing one carries
# {"dv": <name>, "dv_rows": <its tombstone count>}.
_DELETES = "_deletes"
_CLONE_LEASES = ".clone_leases"
# extracts "part=val/filename.parquet" from _metadata.file_path — exactly
# the manifest entry's ``path`` (Hive-escaping keeps '/' out of values)
_REL_RE = r"([^/]+/[^/]+)$"


def _entry_path(root: str, e: dict) -> str:
    """Absolute path of an entry's data file. A SHALLOW-CLONED entry
    carries ``base`` (the source table's root) — its bytes live there
    until a rewrite localizes them; everything else resolves under the
    table's own root."""
    return os.path.join(e.get("base", root), e["path"])


def _dv_abs(root: str, e: dict) -> str:
    """Absolute path of an entry's delete-vector sidecar (``dv_base``
    marks a vector still owned by a clone's source table)."""
    return os.path.join(e.get("dv_base", root), _DELETES, e["dv"])


def _dv_frame(spark: SparkSession, root: str, entries: list[dict]):
    """(path, row_index) rows of every delete vector the given entries
    reference — the read-side tombstone set. None when no entry carries
    one (the plan stays byte-identical to the pre-DV read)."""
    paths = sorted({_dv_abs(root, e) for e in entries if e.get("dv")})
    if not paths:
        return None
    return (spark.read.schema("path STRING, row_index BIGINT")
            .parquet(*paths))


def _with_pos(df: DataFrame) -> DataFrame:
    """Tag a parquet scan with the entry-relative file path and the
    in-file row position (Spark's ``_metadata`` hidden columns — scan
    stays vectorized; the tag is metadata, not data)."""
    return (df.withColumn("__rel", F.regexp_extract(
                F.col("_metadata.file_path"), _REL_RE, 1))
            .withColumn("__idx", F.col("_metadata.row_index")))


def _anti_dv(scan: DataFrame, dv: DataFrame) -> DataFrame:
    """Drop tombstoned rows: broadcast anti-join on (file, position).
    The DV set is small by the write-side crossover rule (a file whose
    tombstones exceed ``dv_max_frac`` of its rows is rewritten instead),
    so this adds zero shuffle to the scan. The position tags stay."""
    return scan.join(
        F.broadcast(dv),
        (scan["__rel"] == dv["path"]) & (scan["__idx"] == dv["row_index"]),
        "left_anti")


def _entry_spec(e: dict) -> str:
    """The (physical) partition column an entry's file was written
    under — self-describing from the Hive-style path
    (``col=value/file.parquet``), so partition-spec evolution needs no
    per-entry bookkeeping."""
    return e["path"].split("=", 1)[0]


def _read_entries(spark: SparkSession, root: str, m: dict,
                  entries: list[dict], pos: bool = False) -> DataFrame:
    """Snapshot-semantics read of a specific entry list: files carrying
    a delete vector anti-join their tombstones (merge-on-read); clean
    files stream through the plain reader untouched. Every read path
    that resolves entries — read_snapshot, read_changes, the REWRITE
    scans inside merge/compaction (a rewrite that read raw would
    resurrect deleted rows into the new files) and the tombstone scan
    of commit_delete — goes through here. Entries are additionally
    grouped by PARTITION SPEC (the dir column their path encodes):
    after set_partition_column, old-spec files recover their old column
    from the directory name while the new column reads as file data,
    and vice versa — each group is one plain parquet scan, the union is
    by name. ``pos=True`` keeps every row's entry-relative file path
    and in-file position as ``__rel``/``__idx`` (the positional scan a
    delete vector is written from); without it a clean-only read's
    plan carries no position columns at all."""
    parts = []
    for pred in (lambda e: not e.get("dv"), lambda e: e.get("dv")):
        by_spec: dict[tuple, list[dict]] = {}
        for e in entries:
            if pred(e):
                # grouped by (dir-spec, owning root): each group is one
                # plain scan whose basePath recovers its own dir column
                # — a shallow clone's foreign files scan under their
                # SOURCE root
                by_spec.setdefault(
                    (_entry_spec(e), e.get("base", root)),
                    []).append(e)
        cm = m.get("col_map")
        phys_names = {_phys_name(cm, f.name)
                      for f in _read_schema(m).fields}
        for (spec, base), es in by_spec.items():
            scan = _reader(spark, base, m).parquet(
                *[_entry_path(root, e) for e in es])
            if spec not in phys_names and spec in scan.columns:
                # hidden partitioning: a dir column that is not a table
                # column (a days/bucket/truncate derivation — current
                # OR from a since-evolved spec) never surfaces; dropped
                # per spec group, since a mixed-spec read recovers it
                # in some groups only
                scan = scan.drop(spec)
            if pos or es[0].get("dv"):
                scan = _with_pos(scan)
            if es[0].get("dv"):
                scan = _anti_dv(scan, _dv_frame(spark, root, es))
                if not pos:
                    scan = scan.drop("__rel", "__idx")
            parts.append(scan)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return _to_logical(df, m, keep=("__rel", "__idx") if pos else ())


# --- column mapping (rename/drop evolution, Delta's name-mapping mode) -------
# A doc may carry ``col_map``: {"ids": {logical: id}, "phys": {id:
# physical}, "retired": [physical...], "next": id}. PHYSICAL names are
# what parquet files contain and NEVER change once assigned; a RENAME is
# a metadata-only commit that re-labels the logical name of an id, a
# DROP retires the id (old files keep the column; the read schema just
# stops asking for it). A column re-added after a drop gets a FRESH id
# and a fresh physical name (``name__<id>``), so the dropped
# generation's stale values can never resurrect under the new column.
# Tables without ``col_map`` behave exactly as before — the mapping is
# initialized lazily by the first rename/drop.


def _phys_name(cm: dict | None, logical: str) -> str:
    if cm is None:
        return logical
    i = cm["ids"].get(logical)
    return cm["phys"][str(i)] if i is not None else logical


def _init_col_map(schema_json: str) -> dict:
    from pyspark.sql.types import StructType

    sch = StructType.fromJson(json.loads(schema_json))
    ids = {f.name: i + 1 for i, f in enumerate(sch.fields)}
    return {"ids": ids,
            "phys": {str(i): n for n, i in ids.items()},
            "retired": [], "next": len(ids) + 1}


def _register_new_cols(cm: dict, schema_json: str) -> dict:
    """Assign ids + physical names to columns the evolved LOGICAL
    schema carries that the mapping does not know yet. A name that ever
    served as a physical name (live or retired) gets a disambiguated
    physical (``name__<id>``) — never a reused one."""
    from pyspark.sql.types import StructType

    sch = StructType.fromJson(json.loads(schema_json))
    cm = {"ids": dict(cm["ids"]), "phys": dict(cm["phys"]),
          "retired": list(cm["retired"]), "next": cm["next"]}
    used = set(cm["phys"].values()) | set(cm["retired"])
    for f in sch.fields:
        if f.name in cm["ids"]:
            continue
        i = cm["next"]
        cm["next"] = i + 1
        phys = f.name if f.name not in used else f"{f.name}__{i}"
        used.add(phys)
        cm["ids"][f.name] = i
        cm["phys"][str(i)] = phys
    return cm


def _to_physical(df: DataFrame, doc: dict) -> DataFrame:
    """Rename a LOGICAL-named frame to the table's physical column
    names for staging (identity without a mapping). Columns the mapping
    does not know pass through (commit_append registers them before its
    claim)."""
    cm = doc.get("col_map")
    if cm is None:
        return df
    sel = [F.col(c).alias(_phys_name(cm, c)) for c in df.columns]
    return df.select(*sel)


def _to_logical(df: DataFrame, doc: dict,
                keep: tuple[str, ...] = ()) -> DataFrame:
    """Alias a PHYSICAL-named scan back to the snapshot's logical
    names; ``keep`` columns (the _metadata position tags) pass through
    untouched."""
    cm = doc.get("col_map")
    if cm is None:
        return df
    rev = {_phys_name(cm, logical): logical for logical in cm["ids"]}
    sel = [F.col(c).alias(rev.get(c, c)) for c in df.columns
           if c in rev or c in keep]
    return df.select(*sel)


def _prune_physical(doc: dict, prune: dict | None) -> dict | None:
    """Map a logical-keyed prune spec onto the physical names the stats
    index records."""
    cm = doc.get("col_map")
    if not prune or cm is None:
        return prune
    return {_phys_name(cm, c): v for c, v in prune.items()}


def _reader(spark: SparkSession, root: str, doc: dict):
    """Snapshot reader: basePath recovers the partition column from the
    Hive-style dir names; the read uses the manifest's recorded schema
    EXPLICITLY — files written before a column existed NULL-fill it (the
    parquet reader matches by name), and time travel reads each version
    with the schema it committed under. Spark surfaces partition columns
    last, matching the inference path's column order. Under a column
    mapping the read schema carries PHYSICAL names (what the files
    contain); ``_to_logical`` re-labels the frame."""
    sch = _read_schema(doc)
    cm = doc.get("col_map")
    if cm is not None:
        from pyspark.sql.types import StructField, StructType

        sch = StructType([StructField(_phys_name(cm, f.name),
                                      f.dataType, f.nullable, f.metadata)
                          for f in sch.fields])
    return spark.read.schema(sch).option("basePath", root)


def _empty_like(spark: SparkSession, m: dict) -> DataFrame:
    """Empty frame with snapshot ``m``'s read schema — pure metadata
    (no file touched), fields in read order (``_cdf_fields``)."""
    from pyspark.sql.types import StructType

    return spark.createDataFrame([], StructType(_cdf_fields(m)))


def _seg_overlaps(desc: dict, prune: dict[str, tuple]) -> bool:
    """Segment-level pruning from the descriptor's stats rollup — same
    conservative overlap rule as prune_entries, applied BEFORE the
    segment's entry list is even read."""
    stats = desc.get("stats", {})
    for col, (lo, hi) in prune.items():
        if col not in stats:
            continue
        smin, smax = stats[col]
        if ((hi is not None and _stat_gt(smin, _stat_val(hi, +1)))
                or (lo is not None
                    and _stat_gt(_stat_val(lo, -1), smax))):
            return False
    return True


def _split_segments(root: str, doc: dict, touched: set[str],
                    cur_pcol: str | None = None
                    ) -> tuple[list[dict], list[dict]]:
    """(carried segment descriptors, resolved entries of the rest).
    A segment is carried by reference iff its partition set is disjoint
    from ``touched`` — the rewrite-only-what-changed primitive shared by
    the row-level writers (``_rewrite_sets``) and compaction. With
    ``cur_pcol`` set (compaction), segments stamped with an OLDER
    partition spec always resolve — their partition values live in a
    different domain than ``touched``, and compaction is the op that
    migrates them."""
    carried: list[dict] = []
    resolved: list[dict] = []
    for s in doc["segments"]:
        old_spec = (cur_pcol is not None
                    and s.get("pcol", cur_pcol) != cur_pcol)
        if old_spec or touched & set(s["partitions"]):
            resolved.extend(_read_segment(root, s["path"]))
        else:
            carried.append(s)
    return carried, resolved


# manifest-doc size bound: a commit that would push the segment count
# past this folds the smallest segments into one (log-structured merge).
# 64 descriptors keep the doc a few KiB however many files the table
# holds; the fold's amortized cost per append is O(smallest segments).
_MAX_SEGMENTS = 64


def _coalesce_segments(root: str,
                       segments: list[dict]) -> list[dict]:
    if len(segments) <= _MAX_SEGMENTS:
        return segments
    by_count = sorted(segments, key=lambda s: s["count"])
    k = len(segments) - _MAX_SEGMENTS + 1
    to_merge, rest = by_count[:k], by_count[k:]
    merged = [e for s in to_merge
              for e in _read_segment(root, s["path"])]
    if merged:
        rest.append(_write_segment(root, merged, reused=True))
    return rest


def _diff_entries(root: str, m_since: dict, m_to: dict) -> list[dict]:
    """Entries of files present in ``m_to`` but not in ``m_since`` — the
    version-diff primitive behind read_changes and the streaming source.
    Cost is O(changed), not O(table): segments carried by reference
    between the two docs cannot contain new files, so only segments NEW
    in ``to`` are read; of those, unmarked segments are append batches
    (commit-unique file names — every entry is new by construction) and
    only ``reused``-marked ones (re-homes, folds) are diffed against the
    old snapshot, restricted to the partitions they touch."""
    since_names = {s["path"] for s in m_since["segments"]}
    new_segs = [s for s in m_to["segments"]
                if s["path"] not in since_names]
    fresh = [e for s in new_segs if not s.get("reused")
             for e in _read_segment(root, s["path"])]
    reused_segs = [s for s in new_segs if s.get("reused")]
    if not reused_segs:
        return fresh
    touched = {p for s in reused_segs for p in s["partitions"]}
    old = {e["path"] for s in m_since["segments"]
           if touched & set(s["partitions"])
           for e in _read_segment(root, s["path"])}
    return fresh + [e for s in reused_segs
                    for e in _read_segment(root, s["path"])
                    if e["path"] not in old]


# History checkpointing (r12, verdict item 5): refresh the rolled-up
# commit log once a walk crosses this many docs past the last
# checkpoint, so table_history / version_at on a 10^5-commit streaming
# table read ONE sidecar + O(delta) docs instead of the whole chain.
_HIST_CKPT_EVERY = 64


def _hist_ckpt_path(root: str) -> str:
    return os.path.join(root, _MANIFESTS, "history-ckpt.json")


def _hist_ckpt_read(root: str) -> dict | None:
    try:
        d = json.loads(FS.read_text(_hist_ckpt_path(root)))
        if (d.get("entries")
                and d["entries"][0]["version"] == d["version"]):
            return d
    except (FileNotFoundError, ValueError, KeyError, OSError):
        pass
    return None


def checkpoint_history(path: str) -> int:
    """Force-roll the history checkpoint at the current head (the
    read-side does this lazily every ``_HIST_CKPT_EVERY`` commits;
    call this after a bulk backfill to pay the walk once). Returns the
    checkpointed version."""
    root = _norm(path)
    hist = table_history(root, _refresh=True)
    return hist[0]["version"]


def table_history(path: str, limit: int | None = None,
                  _refresh: bool = False) -> list[dict]:
    """The table's commit log, newest first (Delta's DESCRIBE
    HISTORY): one row per RETAINED snapshot with version, commit
    timestamp, operation kind, and parent. Resolution is O(delta)
    + one checkpoint read, not O(versions): walks docs newest-first
    only until it reaches the rolled-up checkpoint
    (``_manifests/history-ckpt.json``, Delta's checkpoint-file idea
    applied to the op log) and splices its immutable tail; an
    unlimited walk that crossed more than ``_HIST_CKPT_EVERY`` docs
    past the checkpoint re-rolls it (read-repair — commit paths stay
    untouched), best-effort on read-only media. Versions retired by
    vacuum no longer appear (their manifests are gone, and vacuum
    truncates the checkpoint under its lock BEFORE removing
    manifests); the current snapshot is always present."""
    root = _norm(path)
    cur = current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    ckpt = _hist_ckpt_read(root)
    out: list[dict] = []
    v = cur
    walked = 0
    while v >= 1 and (limit is None or len(out) < limit):
        if ckpt is not None and v == ckpt["version"]:
            for h in ckpt["entries"]:
                out.append(dict(h))
                if limit is not None and len(out) >= limit:
                    break
            break
        try:
            doc = _load_doc(root, v)
        except (FileNotFoundError, ValueError):
            break  # vacuum-retired: history ends at the retention edge
        out.append({"version": v, "ts": float(doc["ts"]),
                    "op": doc.get("op", "unknown"),
                    "parent": doc.get("parent")})
        walked += 1
        if doc.get("parent") is None:
            break
        v = doc["parent"]
    if limit is None and (walked > _HIST_CKPT_EVERY
                          or (_refresh and out)):
        # Read-repair write — under the SAME flip lock vacuum holds
        # for its truncation, with the oldest spliced version's
        # manifest re-verified inside the lock. Without both, a walk
        # that read manifests BEFORE a vacuum retired them could land
        # its checkpoint AFTER vacuum's truncation, resurrecting
        # retired versions ("phantom history": version_at would then
        # resolve to a version whose read 404s). Lock + re-check makes
        # that ordering harmless: either we write before vacuum (it
        # truncates us correctly) or after (the oldest-entry probe
        # sees the retired manifest gone and we skip — the next walk
        # re-rolls from live manifests only).
        try:
            with FS.locked(root):
                if out and FS.exists(
                        _manifest_path(root, out[-1]["version"])):
                    FS.put_atomic(_hist_ckpt_path(root), json.dumps(
                        {"version": cur, "entries": out}))
        except OSError:
            pass  # read-only media: the walk still answered
    return out


def version_at(path: str, ts: float) -> int:
    """The snapshot version a reader at wall time ``ts`` would have
    seen — the NEWEST retained version whose commit time is <= ts
    (Delta's TIMESTAMP AS OF resolution). Commit timestamps are not
    guaranteed monotone along the parent chain (a rebased claim
    refreshes its ts; clocks skew), so resolution runs over a
    MONOTONE-ADJUSTED history — each version's effective ts is the
    running max from oldest to newest, Delta's timestamp-adjustment
    rule — which keeps the answer well-ordered: a later version never resolves for an
    earlier wall time. Raises when ts predates the oldest retained
    commit (time travel cannot cross the vacuum horizon) or the
    first commit."""
    hist = table_history(path)  # newest first
    run = None
    for h in reversed(hist):  # oldest → newest: running-max adjust
        run = h["ts"] if run is None else max(run, h["ts"])
        h["ts"] = run
    for h in hist:
        if h["ts"] <= ts:
            return h["version"]
    raise ValueError(
        f"no retained snapshot at or before ts={ts}: the oldest "
        f"retained commit is v{hist[-1]['version']} at "
        f"{hist[-1]['ts']} (vacuumed past it, or ts predates the "
        "table)")


def restore_table(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE the table to an earlier retained snapshot as a NEW
    commit (Delta's RESTORE TABLE ... VERSION AS OF): the new manifest
    carries the target version's segments BY REFERENCE — zero data
    movement, O(segments) metadata — and restores the target's schema,
    column mapping, partition spec, and constraints. History is
    preserved (the undone versions remain time-travelable until
    vacuumed); the streaming txn ledger is KEPT from the current
    snapshot so replayed exactly-once batches stay no-ops after a
    restore. On a CDF-enabled table the restore records its row-level
    diff (current → target, O(changed files)) so the change feed and
    CDC streams see the restore as the delete+insert set it is.
    Single-writer, like compaction and metadata commits: its segment
    list binds to one parent, so a lost race raises (only the
    row-level writers rebase)."""
    root = _norm(path)
    doc = _load_doc(root)
    tgt = _load_doc(root, version)
    if tgt["version"] == doc["version"]:
        return doc["version"]  # restoring to HEAD: no-op
    nd = _make_doc(doc["version"] + 1, doc["version"],
                   list(tgt["segments"]),
                   txns=doc.get("txn"), schema=tgt["schema"],
                   stats_cols=tgt.get("stats_cols"), op="restore")
    _carry_table_meta(nd, tgt)  # the target's spec/mapping/constraints
    if doc.get("cdf_enabled"):
        nd["cdf_enabled"] = True  # enablement never rolls back
        cur_e = {e["path"]: e for e in _resolve(root, doc)}
        tgt_e = {e["path"]: e for e in _resolve(root, tgt)}
        old_side = [e for p, e in cur_e.items() if p not in tgt_e]
        new_side = [e for p, e in tgt_e.items() if p not in cur_e]
        # same path, different delete vector: tombstones shrink back —
        # both sides read with their OWN vectors and the diff cancels
        # the shared live rows
        for p in set(cur_e) & set(tgt_e):
            if cur_e[p].get("dv") != tgt_e[p].get("dv"):
                old_side.append(cur_e[p])
                new_side.append(tgt_e[p])
        cdf_files: list[str] = []
        if old_side or new_side:
            cols = [f.name for f in _cdf_fields(tgt)]
            old_rows = (_read_entries(spark, root, tgt, old_side)
                        .select(*cols) if old_side
                        else _empty_like(spark, tgt).select(*cols))
            new_rows = (_read_entries(spark, root, tgt, new_side)
                        .select(*cols) if new_side
                        else _empty_like(spark, tgt).select(*cols))
            cdf_files = _write_change_files(spark, root, _to_physical(
                _cdf_diff(old_rows, new_rows), tgt))
        nd["cdf"] = {"mode": "files", "files": cdf_files}
    return _commit(root, "restore", _once(doc, (nd, None, None)),
                   occ=False, head=doc)


def clone_table(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (Delta's CLONE ... SHALLOW): materialize ``dst``
    as a new manifest table whose v1 REFERENCES the source snapshot's
    data files and delete vectors in place — zero data copied, O(entries)
    metadata. The clone is immediately a fully independent table:
    commits to either side never affect the other (new files land under
    their own root; a clone-side delete folds the source's vector into
    an owned one), time travel and the change feed restart at the
    clone's v1, and ``commit_compaction`` LOCALIZES the clone (every
    partition still referencing source files rewrites into owned ones).

    The cross-table retention dependency is CLOSED by clone leases
    (r12, going beyond Delta's documented shallow-clone hazard): the
    clone registers a lease sidecar under each owning root
    (``.clone_leases/``), and the owner's ``vacuum`` pins every file a
    live clone still references — exact-file pinning read from the
    clone's own retained manifests, O(clone entries) per vacuum. The
    lease releases automatically: once NO RETAINED clone version
    references the owner — localize with ``commit_compaction``, then
    ``vacuum`` the clone so its pre-localization versions retire
    (time travel to those versions still needs the source files until
    then) — the next source vacuum removes the sidecar; a clone
    DROPPED by deleting its directory stops pinning the same way. During the clone's creation window the young lease pins the
    source snapshot's whole version instead (mtime grace), so a
    concurrent vacuum cannot retire the manifest mid-clone. Cloning a
    mid-migration source (mixed partition specs) refuses — migrate
    first."""
    sroot, droot = _norm(src), _norm(dst)
    m = _load_doc(sroot, version)
    if _mixed_specs(m):
        raise ValueError(
            "cannot shallow-clone a table holding multiple partition "
            "specs: run commit_compaction on the source first")
    FS.makedirs(droot)
    if current_version(droot) is not None:
        raise FileExistsError(f"{droot} is already a manifest table")
    entries = []
    ref_paths: dict[str, set[str]] = {}
    ref_dvs: dict[str, set[str]] = {}
    for e in _resolve(sroot, m):
        ne = dict(e)
        # a clone OF a clone keeps pointing at the ultimate owner
        ne["base"] = e.get("base", sroot)
        ref_paths.setdefault(ne["base"], set()).add(ne["path"])
        if e.get("dv"):
            ne["dv_base"] = e.get("dv_base", sroot)
            ref_dvs.setdefault(ne["dv_base"], set()).add(e["dv"])
        entries.append(ne)
    # Clone leases FIRST, before the clone's manifest exists: each
    # owning root gets a sidecar pinning its files against vacuum.
    # While the clone is unreadable (the creation window), vacuum pins
    # the lease's recorded EXACT file list (plus the direct source's
    # whole src_version); once the clone is live, vacuum pins the
    # files its own retained manifests reference.
    for froot in sorted(set(ref_paths) | set(ref_dvs)):
        _clone_lease_write(
            froot, droot,
            m["version"] if froot == sroot else None,
            paths=sorted(ref_paths.get(froot, ())),
            dvs=sorted(ref_dvs.get(froot, ())))
    segs = [_write_segment(droot, entries, reused=True)] if entries \
        else []
    doc = _make_doc(1, None, segs, schema=m["schema"],
                    stats_cols=m.get("stats_cols"), op="clone")
    _carry_table_meta(doc, m)
    if doc.get("cdf_enabled"):
        doc["cdf"] = {"mode": "append"}  # the clone's v1 inserts ARE
        #                                  its snapshot, like create
    return _commit(droot, "clone", _once(None, (doc, None, None),
                                         FileExistsError),
                   occ=False, head=None)


def _pruned_entries(root: str, m: dict,
                    prune: dict[str, tuple] | None) -> list[dict]:
    """Resolve a manifest doc's entry list under the min/max prune
    index — the shared driver-side core of read_snapshot AND the batch
    DataSource's partition planning.

    Hidden-transform partition pruning: a prune on the SOURCE column
    maps through the transform to directory skipping (monotone
    transforms map ranges, bucket maps equality) — evaluated on the
    manifest's partition values, before stats, before any listing.
    pvals only speaks the CURRENT spec's value domain: after
    set_partition_column old-spec files' partition values come from a
    DIFFERENT column, so comparing them against transformed bounds
    would silently drop matching rows — old-spec segments/entries are
    always kept (stats pruning still applies; it keys on data content,
    not the directory domain)."""
    pvals = _transform_prune(m.get("part_transform"), prune)
    cur_spec = m["part_col"]
    prune = _prune_physical(m, prune)  # the stats index keys on
    #                                    physical names under a mapping
    if prune or pvals:
        entries = [e for s in m["segments"]
                   if _seg_overlaps(s, prune or {})
                   and (pvals is None
                        or s.get("pcol", cur_spec) != cur_spec
                        or any(pvals(p) for p in s["partitions"]))
                   for e in _read_segment(root, s["path"])]
    else:
        entries = _resolve(root, m)
    if pvals:
        entries = [e for e in entries
                   if _entry_spec(e) != cur_spec
                   or pvals(e["partition"])]
    if prune:
        entries = prune_entries(entries, prune)
    return entries


def read_snapshot(spark: SparkSession, path: str,
                  version: int | None = None,
                  prune: dict[str, tuple] | None = None) -> DataFrame:
    """Resolve pointer → manifest → file list. Orphan files (from
    crashed or in-flight commits) are invisible by construction.

    ``prune={col: (lo, hi)}`` applies the manifest's min/max index
    BEFORE Spark ever lists a file — first at SEGMENT granularity (a
    segment whose stats rollup misses the range is skipped without
    reading its entry list), then per file: at 100 TB the difference
    between "open every footer" and "open the 0.1% of files whose range
    overlaps the predicate". File-granular and conservative — the caller
    still applies the row-level filter; pruning only shrinks the file
    list it runs over."""
    root = _norm(path)
    m = _load_doc(root, version)
    entries = _pruned_entries(root, m, prune)
    if not entries:
        # everything pruned, or a genuinely empty snapshot (e.g. after
        # DELETE FROM t with no WHERE): the typed empty frame from the
        # recorded schema — never a listing just for a schema
        return _empty_like(spark, m)
    return _read_entries(spark, root, m, entries)


def _touched_ranges(src: DataFrame, doc: dict, part_col: str,
                    key_cols: list[str], read_only: str | None = None,
                    unique: list[str] | None = None
                    ) -> tuple[set[str], dict, bool]:
    """The ONE driver pre-scan job of a row-level commit: the partitions
    ``src`` (a change batch, delete keys, or the predicate's matching
    rows) touches, plus per partition the [min, max] of every
    ``key_cols`` column over its rows — O(touched partitions) rows.
    Manifest entries store partition values as the (unescaped) Hive
    dir-name STRING; a typed column (int/date day=1) would never match
    it, so the touched set is canonicalized through Spark's own
    cast-to-string — the rendering the writer uses for dir names — with
    NULL mapped to Hive's default-partition marker.

    ``read_only`` names a boolean column of ``src`` marking rows the
    commit only READS (a MERGE's not-matched decision): their
    partitions and key ranges enter ``rng`` — the conflict read set,
    ``(set(rng), rng)`` — but a partition none of whose rows is a write
    stays out of ``touched``, so its files carry by reference. A
    partition holding both kinds keeps one range over all its rows
    (conservative: it can only widen the rewrite set).

    The third value, a MERGE's duplicate-key probe, is True when some
    partition holds more written rows than distinct ``unique`` tuples
    (one holding NULLs counts too); False without ``unique``."""
    pt = doc.get("part_transform")
    aggs = [a for k in key_cols
            for a in (F.min(k).alias(f"__lo_{k}"),
                      F.max(k).alias(f"__hi_{k}"))]
    if read_only is not None:
        aggs.append(F.min(read_only).alias("__ro"))
    if unique:
        tup = F.struct(*unique)
        if read_only is not None:
            tup = F.when(~F.col(read_only), tup)  # NULL: not counted
        aggs += [F.count(tup).alias("__n"),
                 F.countDistinct(tup).alias("__nd")]
    pexpr = (_transform_expr(pt) if pt
             else F.col(part_col)).cast("string")
    rows = (src.groupBy(pexpr.alias("__p")).agg(*aggs) if aggs else
            src.select(pexpr.alias("__p")).distinct()).collect()

    def pkey(r):
        return ("__HIVE_DEFAULT_PARTITION__" if r["__p"] is None
                else r["__p"])

    rng = {pkey(r): {k: (r[f"__lo_{k}"], r[f"__hi_{k}"])
                     for k in key_cols} for r in rows}
    return ({pkey(r) for r in rows if read_only is None or not r["__ro"]},
            rng, bool(unique) and any(r["__n"] > r["__nd"] for r in rows))


def _rewrite_sets(root: str, doc: dict, touched: set[str], rng: dict
                  ) -> tuple[list[dict], list[dict], list[dict]]:
    """(carried segments, rewrite set, rehome set) of a row-level
    commit against snapshot ``doc`` — a pure function of the manifest
    and ``_touched_ranges``' output, so a commit that loses the version
    race re-plans against the new head without rescanning anything.

    Untouched SEGMENTS carry by reference — never read, never
    rewritten: metadata cost is O(touched), the manifest-list shape
    that keeps a 1-partition merge on a 10⁶-file table from rewriting
    10⁶ entries. Resolved entries outside ``touched`` re-home into a
    fresh segment (same data files). Inside a touched partition, a
    file whose recorded [min, max] on an indexed key column is
    disjoint from that partition's range cannot hold a row the commit
    changes — it re-homes too (byte-identical path in the new
    manifest) instead of entering the rewrite set: a 1-row update to a
    hot 1 TB partition rewrites only the files that can contain its
    key (r09 verdict item 2, Delta's stats-pruned copy-on-write).
    Conservative exactly like prune_entries, which judges each entry
    on its own: statless files and overlapping ranges stay in the
    rewrite set; all-NULL keys prune nothing (their bound is None).
    Equality semantics make disjoint-on-ANY-key sufficient: a row must
    match EVERY key to be changed."""
    carried, resolved = _split_segments(root, doc, touched)
    cm = doc.get("col_map")
    rewrite: list[dict] = []
    rehome: list[dict] = []
    for e in resolved:
        if e["partition"] in touched:
            pr = {_phys_name(cm, k): v
                  for k, v in rng[e["partition"]].items()
                  if v[0] is not None}  # stats key on physical names
            if not pr or prune_entries([e], pr):
                rewrite.append(e)
                continue
        rehome.append(e)
    return carried, rewrite, rehome


def _table_sig(doc: dict) -> str:
    """Everything a row-level commit's staged output depends on besides
    its rewrite set: schema/names, spec, constraints, CDF enablement,
    stats config. An interposed commit changing ANY of these
    invalidates the staged files — no rebase."""
    return json.dumps(
        {k: doc.get(k) for k in
         ("schema", "col_map", "part_col", "part_transform",
          "constraints", "cdf_enabled", "stats_cols")},
        sort_keys=True)


def _cdf_diff(old_rows: DataFrame, new_rows: DataFrame) -> DataFrame:
    """Row-level change records between two row sets (Delta's
    _change_data discipline): ``exceptAll`` both ways, so unchanged rows
    cancel and an in-place change surfaces as its delete+insert pair.
    Cost is one shuffle over the CHANGED files' rows, never the table."""
    return (new_rows.exceptAll(old_rows)
            .withColumn("_change_type", F.lit("insert"))
            .unionByName(old_rows.exceptAll(new_rows)
                         .withColumn("_change_type", F.lit("delete"))))


def _commit_rewrite(root: str, doc: dict, op: str,
                    plan: tuple[set[str], dict],
                    sets: tuple[list[dict], list[dict], list[dict]],
                    new_entries: list[dict], *,
                    stats_cols: list[str], cdf_files: list[str],
                    staged_epoch: int,
                    repointed: Sequence[dict] = (),
                    staged: Sequence[str] = (),
                    read_plan: Callable[[dict], tuple[set[str], dict]]
                    | None = None
                    ) -> int:
    """The commit tail shared by merge, update and delete — their
    attempt for the one commit loop (``_commit``). The new manifest
    holds the carried segments by reference, ONE reused
    segment (the rehome set plus ``repointed`` — existing files the
    writer kept, e.g. delete's DV-updated and no-match files) and ONE
    segment of ``new_entries``; ``staged`` names further staged files
    (a DV sidecar) the claim must verify.

    FILE-LEVEL conflict detection (r12, verdict item 6): a commit that
    loses the version race reloads the head, re-plans its rewrite set
    from the manifest (``_rewrite_sets`` over ``plan`` — no rescan),
    and REBASES when (a) the rewrite set's (path, delete vector) pairs
    are unchanged — the interposed commits touched disjoint files, so
    the staged output and CDF records are still exact — and (b)
    nothing in ``_table_sig`` changed and the table holds one partition
    spec. Delta's read-set/write-set disjointness check, done on the
    pruned file lists the manifest already carries. ``read_plan``
    (default: ``plan`` itself) maps a snapshot to a wider plan whose
    rewrite set is the read set in (a) — a MERGE's not-matched decision
    reads partitions it does not rewrite, including ones a concurrent
    commit creates; it covers ``plan``'s partitions with ranges at
    least as wide, so its set unchanged implies ``plan``'s is. Anything
    else raises ``"<op> conflict: …"``; the staged files stay adopted
    across attempts (only the manifest reference is rebuilt, as for
    commit_append)."""
    def read_set(doc_, rewrite_):
        if read_plan is not None:
            rewrite_ = _rewrite_sets(root, doc_, *read_plan(doc_))[1]
        return {(e["path"], e.get("dv")) for e in rewrite_}

    read0 = read_set(doc, sets[1])
    sig0 = _table_sig(doc)
    verify = sorted({e["path"] for e in new_entries}
                    | set(cdf_files) | set(staged))

    def attempt(head: dict) -> tuple:
        carried, _, rehome = sets
        if head is not doc:  # lost the race: rebase or refuse
            if _mixed_specs(head):
                raise RuntimeError(
                    f"{op} conflict: a concurrent partition-spec change "
                    f"landed mid-{op} — compact, then re-run")
            if _table_sig(head) != sig0:
                raise RuntimeError(
                    f"{op} conflict: a concurrent commit changed the "
                    f"table's schema/spec/constraints mid-{op} — re-run "
                    "against the new snapshot")
            carried, rewrite, rehome = _rewrite_sets(root, head, *plan)
            if read_set(head, rewrite) != read0:
                raise RuntimeError(
                    f"{op} conflict: a concurrent commit touched files "
                    f"in this {op}'s rewrite set (overlapping key "
                    "bands) — re-run against the new snapshot")
            # disjoint: rebase onto the new head with the SAME staged
            # output
        segs = list(carried)
        reused = rehome + list(repointed)
        if reused:
            segs.append(_write_segment(root, reused, reused=True))
        if new_entries:
            segs.append(_write_segment(root, new_entries))
        segs = _coalesce_segments(root, segs)  # row-level-only workloads
        #                  must respect the manifest-size bound too
        newdoc = _make_doc(head["version"] + 1, head["version"], segs,
                           txns=head.get("txn"), schema=head["schema"],
                           stats_cols=stats_cols, op=op)
        _carry_table_meta(newdoc, head)
        if head.get("cdf_enabled"):
            newdoc["cdf"] = {"mode": "files", "files": cdf_files}
        return newdoc, verify, staged_epoch

    return _commit(root, op, attempt, occ=False, head=doc)


def _stage_and_commit(spark: SparkSession, root: str, doc: dict, op: str,
                      plan: tuple[set[str], dict],
                      sets: tuple[list[dict], list[dict], list[dict]],
                      out: DataFrame, old_rows: DataFrame | None,
                      new_rows: DataFrame, *, part_used: str,
                      stats_cols: list[str],
                      read_plan: Callable[[dict], tuple[set[str], dict]]
                      | None = None
                      ) -> int:
    """Stage ``out`` — the rewrite set's replacement rows plus any new
    ones — and commit it through ``_commit_rewrite``: the tail of
    merge, update and SQL MERGE. The CDF records (written AT COMMIT
    TIME, when the table records them) are ``_cdf_diff(old_rows,
    new_rows)`` over ``new_rows``' columns; ``old_rows`` None means the
    commit read no row. Callers enforce CHECK constraints on the rows
    they changed before calling: nothing is on disk yet."""
    epoch0 = _vacuum_epoch(root)  # BEFORE staging: _write_doc skips
    #                               the per-file verify when unchanged
    cdf_files: list[str] = []
    if doc.get("cdf_enabled"):
        # unchanged rows cancel and an upsert surfaces as its
        # delete+insert pair, so the downstream feed is O(changed
        # rows) to read instead of a per-consumer table diff
        cols = new_rows.columns
        old = (old_rows if old_rows is not None
               else _empty_like(spark, doc))
        cdf_files = _write_change_files(spark, root, _to_physical(
            _cdf_diff(old.select(*cols), new_rows), doc))
    new_entries = _stage_write(
        _derive_for_stage(_to_physical(out, doc), doc), root,
        part_used, stats_cols=stats_cols)
    return _commit_rewrite(root, doc, op, plan, sets, new_entries,
                           stats_cols=stats_cols,
                           cdf_files=cdf_files, staged_epoch=epoch0,
                           read_plan=read_plan)


def _refuse_mixed_specs(doc: dict, op: str) -> None:
    """Row-level commits prune on partition values, which files under
    two specs express in two domains: refuse until compaction has
    migrated the table."""
    if _mixed_specs(doc):
        raise ValueError(
            "table holds files under multiple partition specs (a "
            "set_partition_column not yet migrated): run "
            f"commit_compaction to migrate, then {op}")


_MULTI_MATCH = (
    "MERGE: a target row matches more than one source row — the SQL "
    "standard makes this merge nondeterministic; deduplicate the source "
    "on the merge keys first")


def commit_merge(spark: SparkSession, path: str, changes: DataFrame,
                 keys: list[str], part_col: str) -> int:
    """merge_keyed's MERGE plan, committed atomically across ALL touched
    partitions via one manifest flip:

    (1) touched-partition list + per-partition key min/max from the
        change batch (ONE tiny driver action, ``_touched_ranges``);
    (2) current snapshot scanned PRUNED twice — to touched partitions
        (the manifest is the pruning index, untouched files are never
        opened), then FILE-granular inside them: when the table's
        per-file stats index covers a key column, files whose recorded
        [min, max] is disjoint from the partition's change-key range
        are carried by reference instead of rewritten
        (``_rewrite_sets``);
    (3) anti-join on change keys + union of the U/I payload;
    (4) staged write, files adopted under commit-unique names — all
        invisible until
    (5) the new manifest (untouched entries by reference + replacement
        entries) is written and ``_current`` flips (``_commit_rewrite``:
        a lost race rebases when the rewrite sets are disjoint).

    A batch with more written (U/I) rows for a key than the table
    holds of it raises ``_MULTI_MATCH`` before staging, as SQL MERGE
    does; only a batch the pre-scan's probe sees repeat a key pays that
    check against the rewrite set.

    A reader can never observe a half-merged table: it resolves either
    the old manifest (every partition pre-merge) or the new one (every
    partition post-merge). A partition whose merge result is EMPTY is
    genuinely dropped from the snapshot — the capability merge_keyed's
    directory swap could not express. ``keys`` must include ``part_col``
    so the anti-join cannot cross partitions (enforced: an anti-join
    that crossed partitions would silently delete rows in partitions the
    commit then never rewrites)."""
    if part_col not in keys:
        raise ValueError(
            f"commit_merge keys {keys} must include part_col "
            f"{part_col!r}: without it the anti-join can delete rows in "
            "partitions the merge does not rewrite, leaving stale "
            "duplicates in the committed snapshot")
    root = _norm(path)
    doc = _load_doc(root)
    _refuse_mixed_specs(doc, "merge")
    part_used = _part_arg(doc, part_col, "merge")
    stats_cols = _doc_stats_cols(doc)
    # the key columns the per-file min/max index covers shrink the
    # rewrite set INSIDE touched partitions
    key_cols = [k for k in keys if k != part_col and k in stats_cols]
    touched, rng, dup = _touched_ranges(changes, doc, part_col, key_cols,
                                        unique=keys)
    plan = (touched, rng)
    sets = _rewrite_sets(root, doc, *plan)
    rewrite = sets[1]

    merged = changes.where(F.col("op") != "D").drop("op")
    # CHECK constraints: only the change payload needs validation (the
    # kept rows passed when they were written); BEFORE staging so a
    # violation leaves nothing on disk
    _enforce_constraints(merged, doc, "merge change batch")
    cur = None
    if rewrite:
        # DV-applied rewrite scan: a raw read of a file carrying a
        # delete vector would resurrect its tombstoned rows into the
        # rewritten files
        cur = _read_entries(spark, root, doc, rewrite)
        if dup:
            # a table holding a key n times may take n rows for it
            n = F.count(F.lit(1))
            grown = (merged.groupBy(*keys).agg(n.alias("__c"))
                     .join(cur.groupBy(*keys).agg(n.alias("__t")), keys)
                     .where(F.col("__c") > F.col("__t")))
            if grown.limit(1).count():
                raise ValueError(_MULTI_MATCH)
        kept = cur.join(changes.select(*keys), keys, "left_anti")
        merged = kept.unionByName(merged)
    # CDF: old = the rewritten files' live rows, new = the merge output
    return _stage_and_commit(spark, root, doc, "merge", plan, sets,
                             merged, cur, merged, part_used=part_used,
                             stats_cols=stats_cols)


def commit_update(spark: SparkSession, path: str,
                  assigns: dict[str, str],
                  where: str | None = None) -> int:
    """Predicate UPDATE — ``UPDATE t SET c = expr WHERE cond`` routed
    through the same stats-pruned copy-on-write plan as commit_merge
    (r14, the ``update_sql`` backend in sources/sql_dml.py). Unlike
    the keyed merge, the row identity is POSITIONAL: one DV-applied
    pre-scan finds the touched partitions and the per-partition
    min/max of every stats-indexed column over the MATCHING rows —
    by min/max construction a file whose recorded range excludes the
    hit range holds no match and carries by reference; the files that
    remain rewrite whole, with the assignment applied under
    ``CASE WHEN cond`` (FALSE/NULL rows pass through byte-identical).
    Assigning the partition column (or a hidden-transform source)
    refuses: a rewrite-in-place cannot move rows between partition
    directories. Constraints validate the UPDATED rows only; CDF
    records the delete+insert pair per actually-changed row (a no-op
    assignment cancels in the exceptAll, exactly like merge). The
    commit tail is commit_merge's ``_commit_rewrite``: a lost race
    rebases when the rewrite sets are disjoint and raises otherwise."""
    root = _norm(path)
    doc = _load_doc(root)
    _refuse_mixed_specs(doc, "update")
    part_col = doc["part_col"]
    pt = doc.get("part_transform")
    if not assigns:
        raise ValueError("UPDATE needs at least one assignment")
    snap = read_snapshot(spark, root)
    sch = {f.name: f.dataType for f in snap.schema.fields}
    for c in assigns:
        if c not in sch:
            raise ValueError(f"SET targets unknown column {c!r} "
                             f"(table has {sorted(sch)})")
        if c == part_col or (pt and c in (pt.get("col"),
                                          pt.get("source"))):
            raise NotImplementedError(
                f"UPDATE SET may not assign the partition column "
                f"{c!r} (or a hidden transform's source): the "
                "copy-on-write rewrite stays inside each partition "
                "directory — moving rows needs a delete+insert "
                "(MERGE or the Python API)")
    # _part_arg expects the transform SOURCE for hidden-spec tables
    part_used = _part_arg(doc, pt["source"] if pt else part_col,
                          "update")
    stats_cols = _doc_stats_cols(doc)
    key_cols = list(stats_cols)
    cond = F.expr(where) if where is not None else F.lit(True)
    touched, rng, _ = _touched_ranges(snap.where(cond), doc, part_col,
                                      key_cols)
    if not touched:
        return doc["version"]  # nothing matches: no-op, no commit
    plan = (touched, rng)
    sets = _rewrite_sets(root, doc, *plan)
    rewrite = sets[1]
    if not rewrite:
        return doc["version"]  # pruning proved no file can match

    cur = (_read_entries(spark, root, doc, rewrite)
           .withColumn("__hit", cond))
    merged = cur.select(
        *[(F.when(F.col("__hit"),
                  F.expr(assigns[c]).cast(sch[c]))
           .otherwise(F.col(c)).alias(c) if c in assigns
           else F.col(c)) for c in snap.columns],
        "__hit")
    hits = merged.where(F.col("__hit")).drop("__hit")
    _enforce_constraints(hits, doc, "updated rows")
    return _stage_and_commit(spark, root, doc, "update", plan, sets,
                             merged.drop("__hit"),
                             cur.where(F.col("__hit")), hits,
                             part_used=part_used, stats_cols=stats_cols)


def _write_dv(spark: SparkSession, root: str, dv_union: DataFrame) -> str:
    """Materialize one commit's delete-vector sidecar under
    ``_deletes/`` and return its name. Written by Spark (never a driver
    collect — the tombstone set is small per file but a wide delete can
    touch many files) into a stage dir, then adopted as a single
    commit-unique parquet like any staged data file."""
    token = uuid.uuid4().hex[:12]
    dv_name = f"dv-{token}.parquet"
    stage = os.path.join(root, f".stage-{token}")
    # one output file needs one task, not a shuffle
    dv_union.coalesce(1).write.mode("overwrite").parquet(stage)
    FS.makedirs(os.path.join(root, _DELETES))
    part = [f for f in sorted(FS.listdir(stage))
            if f.endswith(".parquet")][0]
    FS.move_in(os.path.join(stage, part),
               os.path.join(root, _DELETES, dv_name))
    FS.rmtree(stage)
    return dv_name


# change-data-feed sidecars: <root>/_changes/cdf-*.parquet, the
# ROW-LEVEL change records a merge/delete commit writes at commit time
# (Delta's _change_data discipline): full rows under PHYSICAL column
# names plus a ``_change_type`` string ('insert' / 'delete'; an update
# is its delete+insert pair). Appends record no sidecar — their added
# files ARE the insert set; compaction/metadata commits record
# ``{"mode": "none"}`` (no logical row changed). The manifest doc's
# per-version ``cdf`` key indexes the records, so the feed reader never
# lists the directory.
_CHANGES = "_changes"


def _write_change_files(spark: SparkSession, root: str,
                        cdf_df: DataFrame) -> list[str]:
    """Materialize one commit's row-level change records under
    ``_changes/`` (written by Spark — a wide merge's change set can be
    large) and return their relative paths. Cost rides the commit's own
    changed rows, never the table."""
    token = uuid.uuid4().hex[:12]
    stage = os.path.join(root, f".stage-cdf-{token}")
    cdf_df.write.mode("overwrite").parquet(stage)
    FS.makedirs(os.path.join(root, _CHANGES))
    out: list[str] = []
    for f in sorted(FS.listdir(stage)):
        if not f.endswith(".parquet"):
            continue
        name = f"cdf-{token}-{len(out):04d}.parquet"
        FS.move_in(os.path.join(stage, f),
                   os.path.join(root, _CHANGES, name))
        out.append(f"{_CHANGES}/{name}")
    FS.rmtree(stage)
    return out


def enable_cdf(path: str) -> int:
    """Turn on the row-level change feed (Delta's
    ``delta.enableChangeDataFeed``): from this metadata-only commit on,
    every merge/delete records its changed rows at commit time and
    ``read_change_feed`` / the streaming ``changeFeed`` source deliver
    them per version. Versions committed BEFORE enablement carry no
    record — a feed window reaching behind the enablement refuses
    (exactly Delta's behavior), use read_changes' file-granular diff
    there."""
    root = _norm(path)

    def mutate(nd: dict) -> None:
        nd["cdf_enabled"] = True
        nd["op"] = "enable_cdf"

    return _commit_metadata(root, mutate)


def commit_delete(spark: SparkSession, path: str,
                  keys: DataFrame | None = None,
                  key_cols: list[str] | None = None,
                  part_col: str | None = None,
                  dv_max_frac: float = 0.3,
                  where: str | None = None) -> int:
    """Row-level DELETE with merge-on-read deletion vectors — the write
    path a scattered-key CDC/GDPR delete needs at 100 TB, where even
    the stats-pruned rewrite (commit_merge) rewrites every file whose
    key range covers a hit. Instead of rewriting, SPARSE hits append a
    tombstone sidecar: the commit finds each matching row's (file,
    row-position) via the scan's ``_metadata`` columns, writes ONE
    delete-vector parquet, and the new manifest re-points the touched
    entries at it — zero data files rewritten. Reads apply the vector
    as a broadcast anti-join on (file, position) (``_read_entries``);
    compaction reconciles tombstones into clean files.

    The size crossover keeps reads honest: a file whose CUMULATIVE
    tombstones (existing dv_rows + new hits) would exceed
    ``dv_max_frac`` of its physical rows is rewritten through the
    copy-on-write path instead (Delta's DV heuristic) — vectors stay
    small, so the read-side anti-join stays a broadcast. A re-deleted
    file's existing vector is UNIONED into the new sidecar (one dv ref
    per entry, read never chains).

    ``keys`` holds the delete keys (one row per key, extra columns
    ignored); ``key_cols`` must include ``part_col`` — same invariant
    and same semantics as commit_merge's anti-join (NULL keys match
    nothing). Files whose stats index excludes the key range are
    untouched (L18's pruning applies before any scan). The commit tail
    is commit_merge's ``_commit_rewrite``: a delete's staged output
    (its DV sidecar and rewritten dense files) depends only on its
    candidate files' (path, delete vector) pairs and the table
    signature, so a lost race rebases when a concurrent commit left
    those untouched and raises ``delete conflict`` otherwise.

    PREDICATE mode (r14 — ``DELETE FROM ... WHERE`` through
    sources/sql_dml.py): pass ``where`` (a SQL boolean expression over
    the table's columns) instead of ``keys``/``key_cols``. One
    DV-applied pre-scan of the current snapshot finds the touched
    partitions AND the per-partition min/max of every stats-indexed
    column over the MATCHING rows — by min/max construction a file
    whose recorded range excludes the hit range cannot hold a match,
    so the same file-granular pruning applies with no key columns at
    all. Rows delete where the predicate is TRUE (SQL semantics:
    FALSE and NULL keep). The DV-vs-rewrite crossover, CDF records,
    and commit tail are byte-identical to key mode."""
    if where is not None:
        if keys is not None or key_cols is not None:
            raise ValueError(
                "commit_delete takes keys/key_cols OR where, not both")
    elif keys is None or key_cols is None or part_col is None:
        raise ValueError(
            "commit_delete needs keys + key_cols + part_col, or a "
            "where predicate")
    elif part_col not in key_cols:
        raise ValueError(
            f"commit_delete key_cols {key_cols} must include part_col "
            f"{part_col!r}: without it the tombstone scan can match "
            "rows in partitions the commit never re-points")
    root = _norm(path)
    doc = _load_doc(root)
    _refuse_mixed_specs(doc, "delete")
    pt = doc.get("part_transform")
    if where is not None:
        part_col = doc["part_col"]
        if pt:
            part_col = pt["source"]  # _part_arg names the SOURCE
        key_cols = []
    part_used = _part_arg(doc, part_col, "delete")
    stats_cols = _doc_stats_cols(doc)
    if where is not None:
        # Predicate mode: range columns are the WHOLE stats index —
        # min/max over the matching rows per partition, from one
        # DV-applied snapshot pre-scan (parquet pushdown applies).
        key_cols = list(stats_cols)
        rng_src = read_snapshot(spark, root).where(F.expr(where))
    else:
        rng_src = keys
    plan = _touched_ranges(rng_src, doc, part_col, key_cols)[:2]
    sets = _rewrite_sets(root, doc, *plan)
    cands = sets[1]
    if not cands:
        return doc["version"]  # nothing can match: no-op, no commit
    epoch0 = _vacuum_epoch(root)

    # the live rows of the candidate files, each tagged with its
    # (file, position) — the tombstone coordinates a vector records
    live = _read_entries(spark, root, doc, cands, pos=True)
    matched = (live.where(F.expr(where)) if where is not None
               else live.join(keys.select(*key_cols).distinct(),
                              key_cols, "left_semi")).persist()
    hits = matched.select(F.col("__rel").alias("path"),
                          F.col("__idx").alias("row_index"))
    try:
        counts = {r["path"]: r["cnt"] for r in
                  hits.groupBy("path").agg(
                      F.count(F.lit(1)).alias("cnt")).collect()}
        repointed: list[dict] = []  # kept entries, maybe re-pointed
        sparse: list[dict] = []
        dense: list[dict] = []
        for e in cands:
            n = counts.get(e["path"], 0)
            if n == 0:
                repointed.append(e)  # scanned, nothing matched: unchanged
            elif (e.get("dv_rows", 0) + n
                  >= dv_max_frac * max(e.get("rows", 0), 1)):
                dense.append(e)
            else:
                sparse.append(e)
        if not sparse and not dense:
            # the scan found no matching row anywhere: a commit here
            # would be pure metadata churn (an identical snapshot under
            # a burned version number, polluting read_changes windows)
            return doc["version"]

        cdf_files: list[str] = []
        if doc.get("cdf_enabled"):
            # the matched rows ARE the row-level deletes — recorded at
            # commit time from the scan the delete already ran, so the
            # feed costs O(deleted rows) to write and to read
            cdf_files = _write_change_files(
                spark, root,
                _to_physical(matched.drop("__rel", "__idx"), doc)
                .withColumn("_change_type", F.lit("delete")))

        new_entries: list[dict] = []
        staged: list[str] = []
        if sparse:
            spaths = [e["path"] for e in sparse]
            dv_union = hits.where(F.col("path").isin(spaths))
            carry_dv = [e for e in sparse if e.get("dv")]
            if carry_dv:
                dv_union = dv_union.unionByName(
                    _dv_frame(spark, root, carry_dv)
                    .where(F.col("path").isin(
                        [e["path"] for e in carry_dv])))
            dv_name = _write_dv(spark, root, dv_union)
            staged.append(os.path.join(_DELETES, dv_name))
            for e in sparse:
                ne = dict(e)
                ne["dv"] = dv_name
                ne.pop("dv_base", None)  # the unioned vector is OURS
                #   now (a cloned entry's source vector was folded in)
                ne["dv_rows"] = e.get("dv_rows", 0) + counts[e["path"]]
                repointed.append(ne)
        if dense:
            # crossover: rewrite through the copy-on-write path —
            # the shared DV-applied read minus the delete keys, staged
            # + adopted (one tombstone-application implementation:
            # _read_entries — a hand-rolled copy here would drift)
            dense_read = _read_entries(spark, root, doc, dense)
            kept = (dense_read.where(
                        ~F.coalesce(F.expr(where), F.lit(False)))
                    if where is not None else
                    dense_read.join(
                        keys.select(*key_cols).distinct(), key_cols,
                        "left_anti"))
            new_entries = _stage_write(
                _derive_for_stage(_to_physical(kept, doc), doc), root,
                part_used, stats_cols=stats_cols)
    finally:
        matched.unpersist()
    return _commit_rewrite(root, doc, "delete", plan, sets, new_entries,
                           stats_cols=stats_cols,
                           cdf_files=cdf_files, staged_epoch=epoch0,
                           repointed=repointed, staged=staged)


def _commit_metadata(root: str, mutate) -> int:
    """Metadata-only commit (rename/drop evolution): the new manifest
    carries the parent's SEGMENTS by reference — zero data movement,
    O(segment count) metadata — with ``mutate(newdoc)`` applied to the
    schema/col_map fields (it validates against the doc it actually
    commits, so a racing writer cannot stale the check). Single-writer
    like compaction and restore: a lost race raises."""
    doc = _load_doc(root)
    newdoc = _make_doc(doc["version"] + 1, doc["version"],
                       list(doc["segments"]), txns=doc.get("txn"),
                       schema=doc["schema"],
                       stats_cols=doc.get("stats_cols"),
                       op="metadata")
    _carry_table_meta(newdoc, doc)
    mutate(newdoc)
    if newdoc.get("cdf_enabled"):
        newdoc["cdf"] = {"mode": "none"}  # metadata: no row changed
    return _commit(root, "metadata",
                   _once(doc, (newdoc, None, None), MetadataCommitRaced),
                   occ=False, head=doc)


def rename_column(path: str, old: str, new: str) -> int:
    """Rename a column — metadata-only (Delta's column-mapping mode):
    the stable column id keeps its PHYSICAL name, so no file rewrites;
    old files serve the renamed column through the id. Time travel
    reads each version under its own names (the mapping rides the
    manifest). The partition column cannot rename (its physical name IS
    the directory layout); renaming onto an existing column refuses."""
    root = _norm(path)

    def mutate(nd: dict) -> None:
        from pyspark.sql.types import StructField, StructType

        sj = nd["schema"]
        if nd["part_col"] in (old, new):
            raise ValueError(
                f"cannot rename the partition column {old!r}: its "
                "physical name is the directory layout")
        sch = StructType.fromJson(json.loads(sj))
        names = [f.name for f in sch.fields]
        if old not in names:
            raise ValueError(f"no column {old!r} in {sorted(names)}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for cn, ce in (nd.get("constraints") or {}).items():
            if _constraint_refs(ce, old):
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint "
                    f"{cn!r} ({ce}): drop the constraint first (Delta's "
                    "rename rule — a silently dangling predicate would "
                    "fail every later commit)")
        cm = nd.get("col_map") or _init_col_map(sj)
        cm = {"ids": dict(cm["ids"]), "phys": dict(cm["phys"]),
              "retired": list(cm["retired"]), "next": cm["next"]}
        cm["ids"][new] = cm["ids"].pop(old)
        nd["col_map"] = cm
        nd["op"] = "rename_column"
        nd["schema"] = StructType(
            [StructField(new if f.name == old else f.name, f.dataType,
                         f.nullable, f.metadata)
             for f in sch.fields]).json()

    return _commit_metadata(root, mutate)


def drop_column(path: str, name: str) -> int:
    """Drop a column — metadata-only: the id is RETIRED (its physical
    name recorded so a later re-add of the same logical name gets a
    fresh physical and never resurrects the dropped generation's
    values); files keep the column bytes, the read schema stops asking
    for them, and time travel still serves old versions complete. The
    partition column cannot drop."""
    root = _norm(path)

    def mutate(nd: dict) -> None:
        from pyspark.sql.types import StructType

        sj = nd["schema"]
        if nd["part_col"] == name:
            raise ValueError(
                f"cannot drop the partition column {name!r}")
        sch = StructType.fromJson(json.loads(sj))
        if name not in [f.name for f in sch.fields]:
            raise ValueError(
                f"no column {name!r} in "
                f"{sorted(f.name for f in sch.fields)}")
        for cn, ce in (nd.get("constraints") or {}).items():
            if _constraint_refs(ce, name):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{cn!r} ({ce}): drop the constraint first")
        cm = nd.get("col_map") or _init_col_map(sj)
        cm = {"ids": dict(cm["ids"]), "phys": dict(cm["phys"]),
              "retired": list(cm["retired"]), "next": cm["next"]}
        i = cm["ids"].pop(name)
        cm["retired"].append(cm["phys"].pop(str(i)))
        nd["col_map"] = cm
        nd["op"] = "drop_column"
        nd["schema"] = StructType(
            [f for f in sch.fields if f.name != name]).json()

    return _commit_metadata(root, mutate)


# --- hidden partitioning (Iceberg's partition transforms) ---------------------
# A table may partition by a TRANSFORM of a source column instead of the
# column itself: days(ts) buckets a fact table by calendar day, bucket(N,
# key) spreads a hot key space, truncate(W, s) groups by prefix. The
# derived value exists ONLY in the directory layout (the manifest's
# ``part_transform`` records {kind, source, col, n}): it never appears
# in the table schema or any read — writers derive it at staging,
# readers drop the recovered dir column, and ``read_snapshot``'s prune
# on the SOURCE column maps through the transform to partition-value
# file skipping (monotone transforms map ranges; bucket maps equality).
# This is THE 100 TB time-series layout: queries predicate on the raw
# timestamp and still skip to the right day directories.

_MONOTONE_TRANSFORMS = ("days", "truncate")


def _transform_expr(pt: dict, src: str | None = None):
    """The derive expression, matching ``_transform_value`` exactly
    (pytest-pinned): a partition value computed by Spark at staging
    must equal the one Python computes for pruning bounds."""
    c = F.col(src or pt["source"])
    if pt["kind"] == "days":
        return F.date_format(c, "yyyy-MM-dd")
    if pt["kind"] == "bucket":
        return F.pmod(F.crc32(c.cast("string")),
                      F.lit(pt["n"])).cast("int").cast("string")
    if pt["kind"] == "truncate":
        return F.substring(c.cast("string"), 1, pt["n"])
    raise ValueError(f"unknown partition transform {pt['kind']!r}")


def _transform_value(pt: dict, v) -> str | None:
    """Python-side twin of ``_transform_expr`` for pruning bounds;
    None = cannot represent the bound (pruning abstains)."""
    import datetime
    import zlib

    if v is None:
        return None
    if pt["kind"] == "days":
        if isinstance(v, str):
            return v[:10]
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.strftime("%Y-%m-%d")
        return None
    if pt["kind"] == "bucket":
        if isinstance(v, bool):
            return None  # Python str(True)='True' vs Spark 'true' —
            # the crc32 bucket would differ from the staged one
        if not isinstance(v, (int, str)):
            return None  # float renderings drift between engines
        return str(zlib.crc32(str(v).encode("utf-8")) % pt["n"])
    if pt["kind"] == "truncate":
        if not isinstance(v, str):
            return None  # stringified numerics are not lexicographically
            # monotone (truncate(1) of 9..12 gives '9' > '1'): a range
            # mapped through them would prune EVERY file — abstain, the
            # residual row filter stays in charge
        return v[: pt["n"]]
    return None


def _transform_prune(pt: dict | None, prune: dict | None):
    """Partition-value predicate for a prune spec touching the
    transform's SOURCE column, or None. Monotone transforms (days,
    truncate) map a source range to a derived range; bucket maps only
    equality (lo == hi). The NULL partition never matches — a range
    predicate excludes NULL rows anyway, and the caller's residual
    filter stays in charge of row-level truth."""
    if not pt or not prune or pt["source"] not in prune:
        return None
    lo, hi = prune[pt["source"]]
    if pt["kind"] == "bucket":
        if lo is None or lo != hi:
            return None
        b = _transform_value(pt, lo)
        return (lambda p: p == b) if b is not None else None
    dlo = _transform_value(pt, lo) if lo is not None else None
    dhi = _transform_value(pt, hi) if hi is not None else None
    if dlo is None and dhi is None:
        return None

    def pred(p: str) -> bool:
        if p == "__HIVE_DEFAULT_PARTITION__":
            return False
        return ((dlo is None or p >= dlo)
                and (dhi is None or p <= dhi))

    return pred


def _make_transform(kind: str, source: str, n: int | None,
                    schema_names: list[str]) -> dict:
    if kind not in ("days", "bucket", "truncate"):
        raise ValueError(f"unknown partition transform {kind!r} "
                         "(have: days, bucket, truncate)")
    if kind in ("bucket", "truncate") and (n is None or n < 1):
        raise ValueError(f"{kind} transform needs n >= 1")
    if source not in schema_names:
        raise ValueError(f"no column {source!r} in "
                         f"{sorted(schema_names)}")
    col = f"p_{kind}{n if kind != 'days' else ''}_{source}"
    if col in schema_names:
        raise ValueError(f"derived partition column {col!r} collides "
                         "with a table column")
    pt = {"kind": kind, "source": source, "col": col}
    if n is not None:
        pt["n"] = int(n)
    return pt


def _derive_for_stage(df: DataFrame, doc: dict,
                      cm: dict | None = None) -> DataFrame:
    """Append the hidden derived partition column before staging (the
    frame may already carry PHYSICAL names — derive from the source's
    physical name)."""
    pt = doc.get("part_transform")
    if not pt:
        return df
    return df.withColumn(
        pt["col"],
        _transform_expr(pt, _phys_name(cm if cm is not None
                                       else doc.get("col_map"),
                                       pt["source"])))


def _part_arg(doc: dict, part_col: str, what: str) -> str:
    """Resolve + validate a commit's part_col argument against the
    table's spec: under a transform the caller names the SOURCE column
    and the commit stages under the derived one."""
    pt = doc.get("part_transform")
    expected = pt["source"] if pt else doc["part_col"]
    if part_col != expected:
        raise ValueError(
            f"{what} partitioned by {part_col!r} but the table's "
            f"current spec is {expected!r}"
            + (f" (hidden {pt['kind']} transform)" if pt else
               ": pass the current partition column "
               "(set_partition_column is how the spec evolves)"))
    return pt["col"] if pt else part_col


def set_partition_column(path: str, new_col: str,
                         transform: str | None = None,
                         transform_n: int | None = None) -> int:
    """Evolve the partition spec (Iceberg's partition evolution,
    reduced to its load-bearing core): a METADATA-ONLY commit — zero
    files rewritten — after which new data partitions (and
    partition-prunes) by ``new_col`` (or, with ``transform``, by the
    hidden ``days/bucket/truncate`` derivation of it) while existing
    files keep their old layout and stay fully readable (the old
    column recovers from their directory names; the new column was
    always in their file data). Reads are correct immediately;
    per-file stats pruning works across both generations.
    ``commit_compaction`` is the MIGRATION tool: it rewrites every
    old-spec file under the current spec (and merge/delete REFUSE
    while mixed specs exist — their partition-value pruning would
    compare values from two different domains; compact first). The
    refusal is loud and the migration explicit, never a silent
    full-table rewrite hidden inside an unrelated merge."""
    root = _norm(path)

    def mutate(nd: dict) -> None:
        from pyspark.sql.types import StructType

        sj = nd["schema"]
        old = nd["part_col"]
        sch = StructType.fromJson(json.loads(sj))
        names = [f.name for f in sch.fields]
        if transform:
            pt = _make_transform(transform, new_col, transform_n,
                                 names)
            if nd.get("part_transform") == pt:
                raise ValueError(
                    f"{transform}({new_col}) is already the "
                    "partition spec")
            target = pt["col"]
        else:
            pt = None
            if new_col == old and not nd.get("part_transform"):
                raise ValueError(f"{new_col!r} is already the "
                                 "partition column")
            field = {f.name: f for f in sch.fields}.get(new_col)
            if field is None:
                raise ValueError(
                    f"no column {new_col!r} in {sorted(names)}")
            t = field.dataType.simpleString()
            if any(t.startswith(k)
                   for k in ("array", "map", "struct")):
                raise ValueError(f"cannot partition by {t} column "
                                 f"{new_col!r}")
            if _phys_name(nd.get("col_map"), new_col) != new_col:
                raise ValueError(
                    f"{new_col!r} was added under column mapping "
                    f"(physical name "
                    f"{_phys_name(nd['col_map'], new_col)!r}): "
                    "directory layouts key on the physical name, "
                    "which must match the logical one — add the "
                    "column under its final name before partitioning "
                    "by it")
            target = new_col
        # stamp every existing segment with the spec it was written
        # under, so carry-by-reference decisions never need to read an
        # entry list to learn its domain
        for s in nd["segments"]:
            s.setdefault("pcol", old)
        nd["part_col"] = target
        if pt:
            nd["part_transform"] = pt
        else:
            nd.pop("part_transform", None)
        nd["op"] = "set_partition_spec"

    return _commit_metadata(root, mutate)


def _mixed_specs(doc: dict) -> bool:
    """Whether the snapshot holds files under more than one partition
    spec — O(segments) via the evolution-time stamps."""
    cur = doc["part_col"]
    return any(s.get("pcol", cur) != cur for s in doc["segments"])


def _constraint_refs(expr: str, col: str) -> bool:
    """Whether a CHECK expression references a column name (word-
    boundary match — conservative: a quoted string literal containing
    the name also counts, which can only over-refuse, never corrupt)."""
    return re.search(rf"\b{re.escape(col)}\b", expr) is not None


def add_check_constraint(spark: SparkSession, path: str, name: str,
                         expr: str) -> int:
    """Add a table-level CHECK constraint (Delta's ``ADD CONSTRAINT``):
    ``expr`` is any SQL boolean expression over the table's logical
    columns; from this commit on, every append/merge validates its
    written rows BEFORE staging and refuses with ConstraintViolation.
    SQL semantics: a row violates only when the predicate is FALSE —
    NULL/UNKNOWN passes (put ``col IS NOT NULL`` in the expression for
    NOT-NULL enforcement). The EXISTING data is validated first (one
    pruned-scan job over the current snapshot); a table already in
    violation refuses the constraint, so a recorded constraint is an
    invariant of every retained snapshot from its commit forward, never
    an aspiration. Metadata-only commit: zero data movement.

    Probe-then-commit is NOT a TOCTOU hole: the probed version is
    pinned, and if any commit lands between the probe scan and the
    metadata flip, the attempt is discarded and the probe re-runs
    against the new snapshot — the constraint is only ever recorded
    over data it actually validated."""
    root = _norm(path)
    if not name or not name.isidentifier():
        raise ValueError(f"constraint name {name!r} must be an "
                         "identifier")

    class _Stale(Exception):
        pass

    last_err: BaseException | None = None
    for _ in range(8):
        doc = _load_doc(root)
        if name in (doc.get("constraints") or {}):
            raise ValueError(f"constraint {name!r} already exists: "
                             f"{doc['constraints'][name]}")
        probe = {**doc, "constraints": {name: expr}}
        probed_v = doc["version"]
        # validates expr compiles AND existing data passes, in one
        # job — pinned to the probed version, so a concurrent append
        # cannot slip unvalidated rows under the scan
        _enforce_constraints(read_snapshot(spark, root, probed_v),
                             probe, f"existing data (v{probed_v})")

        def mutate(nd: dict) -> None:
            if nd.get("parent") != probed_v:
                # a commit landed after the probe: its rows were never
                # validated — re-probe against the new snapshot rather
                # than record the constraint over unchecked data
                raise _Stale()
            cons = dict(nd.get("constraints") or {})
            if name in cons:
                raise ValueError(
                    f"constraint {name!r} already exists: "
                    f"{cons[name]}")
            cons[name] = expr
            nd["constraints"] = cons
            nd["op"] = "add_constraint"

        try:
            return _commit_metadata(root, mutate)
        except _Stale:
            last_err = None
            continue
        except (FileExistsError, CommitAborted,
                MetadataCommitRaced) as err:
            # ONLY the named lost-race outcomes of _commit_metadata —
            # the create-exclusive version claim losing
            # (FileExistsError), a vacuumed claim (CommitAborted), and
            # a usurped flip (MetadataCommitRaced) — are the same
            # "a writer got there first" condition _Stale models;
            # re-probe against the new snapshot. Any other
            # RuntimeError is a genuine failure and propagates
            # immediately rather than being retried 8 times and
            # masked as a race (r13 ADVICE, low).
            last_err = err
            continue
    raise RuntimeError(
        f"add_check_constraint({name!r}) lost the probe/commit race "
        "8 times to concurrent writers — quiesce writes and retry"
    ) from last_err


def drop_check_constraint(path: str, name: str) -> int:
    """Drop a CHECK constraint — metadata-only commit. Time travel
    still enforces nothing retroactively (constraints gate WRITES);
    historical snapshots keep the constraint recorded in their docs."""
    root = _norm(path)

    def mutate(nd: dict) -> None:
        cons = dict(nd.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r} "
                             f"(have {sorted(cons)})")
        del cons[name]
        nd["constraints"] = cons or None
        if nd["constraints"] is None:
            del nd["constraints"]
        nd["op"] = "drop_constraint"

    return _commit_metadata(root, mutate)


def commit_append(spark: SparkSession, path: str, batch: DataFrame,
                  part_col: str, txn: tuple[str, int] | None = None,
                  evolve: bool = True) -> int:
    """Append-only commit: stage the batch's files, adopt them, write ONE
    new segment listing them, and write a manifest referencing the
    parent's segments PLUS the new one — no rewrite, no read of existing
    data OR existing metadata entries. The streaming-ingestion
    primitive: cost is O(batch + segment count), not O(table files) —
    the manifest doc holds ≤ _MAX_SEGMENTS descriptors however many
    files the table accumulates (tools/bench_manifest_scale.py measures
    the curve; SCALE.md records it).

    Schema evolution is additive (``_evolve_schema``): a batch carrying
    NEW columns widens the recorded table schema, and older files
    NULL-fill those columns on read; a batch MISSING table columns is
    fine (its files NULL-fill). ``evolve=False`` refuses new columns
    with SchemaEvolutionError; type changes always raise.

    ``txn=(app_id, batch_id)`` makes replays idempotent the way Delta's
    txnAppId/txnVersion does: the manifest records the highest batch_id
    committed per app, and a commit at-or-below it is a no-op returning
    the current version. A sink that crashes after the pointer flip but
    before checkpointing its offset will re-deliver the batch; the
    recorded txn makes the re-delivery invisible instead of a duplicate.
    If the table does not exist yet, the first commit creates it.

    Appends from CONCURRENT writers are safe: append entries commute, so
    the commit is optimistic — stage once, then run the one commit loop
    (``_commit``, ``occ=True``): a lost claim, or a claim usurped before
    its flip, reloads the new parent and rebuilds only the manifest
    reference against it (the staged files are already adopted and
    stay valid; files a vacuum swept before the claim are restaged).
    The row-level writers (merge, update, delete) rebase a lost race
    when their read sets are disjoint (``_commit_rewrite``);
    compaction, restore and metadata commits are single-writer (their
    segment lists bind to one parent), so a lost race there is an
    explicit error, never silent corruption."""
    root = _norm(path)
    head0 = _committed_head(root)
    staged: list[dict] | None = None
    staged_seg: dict | None = None
    # logical→physical map the staged files were written under: the
    # create path stages identity-named (no mapping exists at v1); a
    # mid-rebase mapping drift forces a restage below
    staged_phys: dict | None = None
    staged_epoch = _vacuum_epoch(root)  # BEFORE staging, refreshed on
    #                                     every restage below
    stats_backfilled = False
    validated_cons: dict | None = None

    def attempt(doc: dict | None) -> tuple | None:
        nonlocal staged, staged_seg, staged_phys, staged_epoch
        nonlocal stats_backfilled, validated_cons
        if doc is None:
            # no table yet: this commit creates v1 (a racing creator
            # that wins turns the next attempt into an append)
            if staged is None:
                FS.makedirs(root)
                staged = _stage_write(batch, root, part_col)
                staged_seg = _write_segment(root, staged) if staged \
                    else None
                staged_phys = {c: c for c in batch.columns}
            doc1 = _make_doc(1, None, [staged_seg] if staged_seg else [],
                             txns={txn[0]: txn[1]} if txn else {},
                             schema=batch.schema.json(), op="create")
            doc1["part_col"] = part_col
            return doc1, None, None
        part_used = _part_arg(doc, part_col, "append")
        txns = dict(doc.get("txn", {}))
        if txn is not None:
            app, batch_id = txn
            if app in txns and txns[app] >= batch_id:
                return None  # replayed batch: already committed
            txns[app] = batch_id
        cons = doc.get("constraints")
        if cons and cons != validated_cons:
            # once per distinct constraint set, BEFORE staging (a
            # violation must leave no orphans); a rebase re-validates
            # only if a concurrent metadata commit changed the set
            _enforce_constraints(batch, doc, "append batch")
            validated_cons = cons
        if staged is not None and _swept(
                root, [e["path"] for e in staged], staged_epoch):
            staged = staged_seg = None  # vacuumed mid-stall; restage
        stats_cols = _doc_stats_cols(doc)
        if staged and stats_cols and not stats_backfilled and any(
                set(stats_cols) - set(e.get("stats", {}))
                for e in staged):
            stats_backfilled = True  # once: footer reads are
            #                          deterministic, retries gain nothing
            # The loser of the v1 creation race staged BEFORE stats_cols
            # were knowable (no table existed), so its adopted files
            # carry no per-file min/max. Committing them as-is would be
            # correct (pruning conservatively keeps statless files) but
            # would silently degrade the index and void any segment
            # rollup they join — backfill from the adopted files'
            # footers instead (O(batch) footer reads, once) and rewrite
            # the tiny segment (r09 advice finding). Columns a footer
            # genuinely lacks stats for stay absent — that is the same
            # outcome a first-time stage records.
            for e in staged:
                _, stats = _file_stats(os.path.join(root, e["path"]),
                                       stats_cols)
                if stats:
                    e["stats"] = stats
            if all(set(stats_cols) - set(e.get("stats", {}))
                   for e in staged):
                pass  # footers carry no stats at all: nothing to gain,
                #       and rewriting the segment each retry would churn
            else:
                staged_seg = _write_segment(root, staged)
        schema_json = _evolve_schema(doc["schema"], batch.schema, evolve)
        cm_new = None
        if doc.get("col_map") is not None:
            # columns NEW in this batch get ids + physical names BEFORE
            # staging, so the staged files carry the mapped names
            cm_new = _register_new_cols(doc["col_map"], schema_json)
        phys_now = {c: _phys_name(cm_new, c) for c in batch.columns}
        if staged is not None and phys_now != staged_phys:
            # the mapping drifted between our staging and this rebase
            # (a drop + re-add committed concurrently): files staged
            # under the stale physical names would bind this batch's
            # values to a RETIRED column — restage under the fresh map
            staged = staged_seg = None
        if staged and _entry_spec(staged[0]) != part_used:
            # spec drifted (a racing creator won with a transform, or a
            # concurrent set_partition_column): files staged under the
            # stale directory layout would corrupt partition pruning
            staged = staged_seg = None
        if staged is None:
            staged_epoch = _vacuum_epoch(root)
            phys_df = (_to_physical(batch, {"col_map": cm_new})
                       if cm_new is not None else batch)
            staged = _stage_write(
                _derive_for_stage(phys_df, doc, cm=cm_new),
                root, part_used, stats_cols=stats_cols)
            staged_seg = _write_segment(root, staged) if staged else None
            staged_phys = phys_now
        elif staged_seg is not None and not FS.exists(
                _segment_file(root, staged_seg["path"])):
            # data files survive but the segment was GC'd as an orphan:
            # rewrite the (tiny) segment from the already-adopted entries
            staged_seg = _write_segment(root, staged)
        newdoc = _append_doc(root, doc, staged_seg, txns=txns,
                             schema=schema_json, stats_cols=stats_cols,
                             col_map=cm_new)
        return newdoc, [e["path"] for e in staged], staged_epoch

    return _commit(root, "commit_append", attempt, occ=True, head=head0)


def _append_doc(root: str, head: dict, seg: dict | None, *,
                overwrite: bool = False,
                txns: dict | None = None, schema: str | None = None,
                stats_cols: list[str] | None = None,
                col_map: dict | None = None) -> dict:
    """The manifest an append-kind commit (commit_append, the SQL
    INSERT writer) claims on top of ``head``: the parent's segment
    DESCRIPTORS by reference — entry lists never touched; none for a
    truncating ``overwrite`` — plus the batch's one new segment, the
    table metadata carried forward, and the change feed's record that
    the added files ARE the insert set (derived from the version diff,
    no sidecar). ``txns``/``schema``/``stats_cols`` default to the
    head's; ``col_map`` overrides it (a batch's newly registered
    ids)."""
    segments = [] if overwrite else list(head["segments"])
    segments = _coalesce_segments(root, segments + ([seg] if seg else []))
    newdoc = _make_doc(
        head["version"] + 1, head["version"], segments,
        txns=head.get("txn") if txns is None else txns,
        schema=head["schema"] if schema is None else schema,
        stats_cols=(head.get("stats_cols") if stats_cols is None
                    else stats_cols),
        op="overwrite" if overwrite else "append")
    _carry_table_meta(newdoc, head)
    if col_map is not None:
        newdoc["col_map"] = col_map
    if head.get("cdf_enabled"):
        newdoc["cdf"] = {"mode": "append"}
    return newdoc


def read_changes(spark: SparkSession, path: str, since: int,
                 to: int | None = None,
                 row_level: bool = False) -> DataFrame:
    """Incremental read: the rows of every file present in snapshot
    ``to`` (default: current) but NOT in snapshot ``since`` — appended
    batches and the REWRITTEN FILES of touched partitions, never the
    untouched bulk. File-granular (like Delta/Iceberg incremental scans
    without a row-level change feed): consume as upsert-by-key, never
    as partition-replace — on a table whose stats index covers a merge
    key, the stats-pruned merge carries a touched partition's
    disjoint-key files by reference, so the feed delivers only the
    files that actually rewrote (a whole partition re-delivers only
    when no stats prune its rewrite). A dropped partition contributes
    nothing. Returns an empty frame (correct schema) when nothing
    changed.

    ``row_level=True`` (r10 verdict item 7 — the CDF tier on top of
    the DV machinery) returns EXACTLY the changed rows with a
    ``_change_type`` column ('insert' / 'delete'; an update is its
    delete+insert pair): rewritten files' unchanged re-homed rows
    cancel out (exceptAll between the added-file and removed-file row
    sets — still O(changed files), never a table diff), and
    merge-on-read deletes surface as 'delete' rows resolved from the
    GROWN delete vectors of carried files (positions in ``to``'s
    vector minus ``since``'s). A pure compaction yields an empty feed.
    Both sides read under ``to``'s schema/mapping (physical names are
    stable), so the feed crosses rename/widen boundaries. Cost: one
    all-column shuffle over the changed files' rows — unsuitable only
    for map-typed columns (not comparable in EXCEPT)."""
    root = _norm(path)
    window = f"read_changes over ({since}, {'head' if to is None else to}]"
    m_to = _window_doc(root, to, window)
    m_since = _window_doc(root, since, window)
    if not row_level:
        new_entries = _diff_entries(root, m_since, m_to)
        if not new_entries:
            return _empty_like(spark, m_to)
        # read with the DESTINATION snapshot's schema: a feed crossing
        # a schema-evolution boundary NULL-fills the new columns for
        # files written before they existed. Delete vectors as of
        # ``to`` apply (tombstoned rows of a delivered file never
        # flow); a DV-ONLY change re-delivers nothing — file-granular
        # diffs are keyed on paths, so merge-on-read deletes do not
        # appear in this feed (same as Delta's incremental scan
        # without CDF); row_level=True is the feed that carries them.
        return _read_entries(spark, root, m_to, new_entries)

    # O(changed SEGMENTS), not O(table): entries in segments CARRIED
    # between the two docs are untouched by construction (same path,
    # same dv) and cancel without being read — only segments new in
    # `to` or dropped from `since` resolve (r11 review finding: the
    # full _resolve pair read every segment of both snapshots for a
    # one-file change).
    to_names = {s["path"] for s in m_to["segments"]}
    since_names = {s["path"] for s in m_since["segments"]}
    fresh = [e for s in m_to["segments"]
             if s["path"] not in since_names
             for e in _read_segment(root, s["path"])]
    dropped = [e for s in m_since["segments"]
               if s["path"] not in to_names
               for e in _read_segment(root, s["path"])]
    by_to = {e["path"]: e for e in fresh}
    by_since = {e["path"]: e for e in dropped}
    added = [e for p, e in by_to.items() if p not in by_since]
    removed = [e for p, e in by_since.items() if p not in by_to]
    # re-homed files whose delete vector GREW: the new tombstones are
    # row-level deletes (vectors only grow until a rewrite replaces
    # the file, so to-minus-since is exactly the delta)
    dv_grown = [(by_since[p], e) for p, e in by_to.items()
                if p in by_since and e.get("dv") != by_since[p].get("dv")
                and e.get("dv")]
    ins = (_read_entries(spark, root, m_to, added) if added
           else _empty_like(spark, m_to))
    # removed files read under TO's schema/mapping but with THEIR OWN
    # (since-side) delete vectors: rows already dead at `since` were
    # never visible, so they are not deletes of this window
    dele = (_read_entries(spark, root, m_to, removed) if removed
            else _empty_like(spark, m_to))
    # re-homed unchanged rows appear on both sides — cancel them
    out = _cdf_diff(dele, ins)
    if dv_grown:
        old_dv = _dv_frame(spark, root, [o for o, _ in dv_grown])
        new_dv = _dv_frame(spark, root, [n for _, n in dv_grown])
        grown_paths = [n["path"] for _, n in dv_grown]
        fresh = new_dv.where(F.col("path").isin(grown_paths))
        if old_dv is not None:
            fresh = fresh.exceptAll(
                old_dv.where(F.col("path").isin(grown_paths)))
        # the RAW positional scan (vectors not applied: the rows sought
        # are exactly the ones `to`'s vector tombstones)
        scan = _read_entries(spark, root, m_to,
                             [dict(n, dv=None) for _, n in dv_grown],
                             pos=True)
        hit = scan.join(
            F.broadcast(fresh),
            (scan["__rel"] == fresh["path"])
            & (scan["__idx"] == fresh["row_index"]), "left_semi")
        out = out.unionByName(
            hit.drop("__rel", "__idx")
            .withColumn("_change_type", F.lit("delete")))
    return out


def _cdf_fields(m: dict) -> list:
    """A snapshot's data fields in read order (partition column last,
    matching read_snapshot): the change feed's and every empty read's
    schema."""
    sch = _read_schema(m)
    pc = m["part_col"]
    return ([f for f in sch.fields if f.name != pc]
            + [f for f in sch.fields if f.name == pc])


def _cdf_align(df: DataFrame, fields: list) -> DataFrame:
    """Project a per-version change frame onto the feed's end-version
    schema: columns a version's record predates NULL-fill, narrower
    same-family types upcast — the same discipline every other read
    path applies across evolution boundaries."""
    have = set(df.columns)
    return df.select(
        *[(F.col(f.name).cast(f.dataType) if f.name in have
           else F.lit(None).cast(f.dataType)).alias(f.name)
          for f in fields],
        "_change_type")


def _window_doc(root: str, v: int | None, window: str,
                role: str = "") -> dict:
    """``_load_doc`` for a reader that walks the versions of ``window``
    (the change feed, ``read_changes``, a manifest stream batch): a
    manifest vacuum retired raises FileNotFoundError naming it, its
    ``role`` in the walk, and the retention knob."""
    if v is None:
        return _load_doc(root)
    try:
        return _load_doc(root, v)
    except FileNotFoundError as e:
        raise FileNotFoundError(
            f"{window} needs manifest v{v}{role}, and it is gone "
            "(vacuumed?): widen keep_versions over the longest consumer "
            "lag, or start the feed at a retained version") from e


def _change_versions(root: str, since: int, to: int):
    """The ONE change-feed walk over versions ``(since, to]`` — behind
    ``read_change_feed``, the CDC stream and the batch ``changesSince``
    reader. Loads each manifest once and yields ``(v, doc, entries,
    files)`` per version that changed rows: an append's added entries
    (the diff against v-1, reusing the previous doc; the full entry
    list at v1) with ``files=[]``, or a merge/delete version's
    ``_changes/`` record paths with ``entries=[]``. Compaction and
    metadata versions (mode ``none``) yield nothing. A version without
    a record refuses (the feed starts at enablement); a manifest the
    walk needs that vacuum retired raises FileNotFoundError naming it
    and the retention knob."""
    window = f"the change feed over ({since}, {to}]"
    prev: dict | None = None
    for v in range(since + 1, to + 1):
        d = _window_doc(root, v, window)
        cdf = d.get("cdf")
        if cdf is None:
            raise ValueError(
                f"version {v} carries no change record (committed "
                "before enable_cdf?): the row-level feed starts at "
                "enablement — use read_changes for file-granular "
                "diffs of older windows")
        if cdf["mode"] == "append":
            base = prev if prev is not None else (
                _window_doc(root, v - 1, window,
                            f" as the diff base for v{v}")
                if v > 1 else None)
            yield v, d, (_diff_entries(root, base, d) if base is not None
                         else _resolve(root, d)), []
        elif cdf["mode"] == "files":
            yield v, d, [], cdf["files"]
        prev = d


def read_change_feed(spark: SparkSession, path: str, since: int,
                     to: int | None = None) -> DataFrame:
    """Row-level change feed between two versions (Delta CDF's
    ``table_changes``): one row per change in every version of
    ``(since, to]``, tagged ``_change_type`` ('insert' / 'delete'; an
    update is its delete+insert pair) and ``_commit_version``. Unlike
    ``read_changes(row_level=True)`` — a NET diff computed on demand —
    this replays the PER-VERSION history from the change records
    commits wrote (``cdf`` manifest key): appends resolve from the
    version diff (their added files are the insert set, read with
    their as-of-commit delete vectors), merge/delete commits read
    their ``_changes/`` sidecars, compaction/metadata versions
    contribute nothing — the walk ``_change_versions`` shares with the
    CDC stream and the batch ``changesSince`` reader. Cost: O(changed
    rows in the window) — no joins, no table scan, which is the
    property that makes CDC consumable at 100 TB. Every version in the
    window must carry a record (committed after ``enable_cdf``/
    ``create_table(cdf=True)``); a window reaching behind enablement
    refuses with ValueError, exactly like Delta. A window whose
    manifests (or whose first append's diff base, the ``since``
    manifest) vacuum retired raises FileNotFoundError naming the
    missing manifest: widen ``vacuum``'s ``keep_versions`` over the
    longest consumer lag. All versions deliver under ``to``'s schema
    and column mapping (physical names are stable across renames;
    pre-evolution records NULL-fill / upcast)."""
    root = _norm(path)
    m_to = _load_doc(root, to)
    to_v = m_to["version"]
    if since > to_v:
        raise ValueError(f"since={since} is ahead of to={to_v}")
    fields = _cdf_fields(m_to)
    outs: list[DataFrame] = []
    for v, _, entries, files in _change_versions(root, since, to_v):
        if entries:
            df = (_read_entries(spark, root, m_to, entries)
                  .withColumn("_change_type", F.lit("insert")))
        elif files:
            df = _to_logical(spark.read.parquet(
                *[os.path.join(root, p) for p in files]),
                m_to, keep=("_change_type",))
        else:
            continue
        outs.append(_cdf_align(df, fields).withColumn(
            "_commit_version", F.lit(v).cast("bigint")))
    if not outs:
        from pyspark.sql.types import (LongType, StringType, StructField,
                                       StructType)

        return spark.createDataFrame([], StructType(
            list(fields) + [StructField("_change_type", StringType()),
                            StructField("_commit_version", LongType())]))
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


def commit_compaction(spark: SparkSession, path: str, part_col: str,
                      target_files: int = 1,
                      order_by: list[str] | None = None,
                      zorder: bool = False) -> int:
    """Rewrite each partition of the current snapshot that holds more
    than ``target_files`` files into at most ``target_files`` files
    through the same stage→manifest→flip path.
    Readers see the old layout or the new one, never a mix; the rewritten
    partitions' old files stay on disk for time travel until vacuumed.
    Metadata cost is O(table files) — compaction is the maintenance op
    that may legitimately resolve every segment (it needs per-partition
    file counts); untouched segments still carry by reference.

    ``order_by`` turns compaction into Delta's OPTIMIZE ... ZORDER BY:
    EVERY partition rewrites with its rows sorted on the given columns
    (``zorder=True`` interleaves them into one Morton key instead of a
    lexicographic sort — each file gets a narrow min/max envelope on
    ALL the columns, not just the leading one), so the per-file stats
    index tightens and later prunes open a fraction of the files. With
    ``target_files > 1`` the writer splits each SORTED partition, so
    every output file covers a contiguous key range — exactly the
    layout the manifest's min/max index wants at 100 TB."""
    root = _norm(path)
    m = _load_doc(root)
    cur_pcol = _part_arg(m, part_col, "compaction")
    by_part: dict[str, list[dict]] = {}
    migrate: list[dict] = []
    for e in _resolve(root, m):
        if _entry_spec(e) != cur_pcol:
            # partition-spec MIGRATION: every file still laid out under
            # an older spec rewrites under the current one — compaction
            # is the explicit migration op set_partition_column names
            migrate.append(e)
        else:
            by_part.setdefault(e["partition"], []).append(e)
    # a partition holding any delete vector is compacted even at the
    # file-count target: compaction is where merge-on-read tombstones
    # RECONCILE into clean files (the rewritten files carry no dv; the
    # dv sidecars become unreferenced and vacuum retires them)
    todo = (dict(by_part) if order_by else
            {p: es for p, es in by_part.items()
             if len(es) > target_files
             or any(e.get("dv") for e in es)
             # compaction LOCALIZES a shallow clone: partitions still
             # referencing the source table's files rewrite into owned
             # ones, severing the cross-table dependency
             or any("base" in e for e in es)})
    if not todo and not migrate:
        return m["version"]
    carried, resolved = _split_segments(root, m, set(todo),
                                        cur_pcol=cur_pcol)
    rehome = [e for e in resolved
              if _entry_spec(e) == cur_pcol and e["partition"] not in todo]
    cur = _read_entries(spark, root, m,
                        [e for es in todo.values() for e in es]
                        + migrate)
    # One task per partition value (hash repartition; parallelism = the
    # number of rewritten partitions, the natural compaction unit). For
    # target_files > 1 the split happens at the WRITER via
    # maxRecordsPerFile sized from the largest rewritten partition —
    # salt-column shuffle splitting is not reliable here because AQE
    # legitimately coalesces the small (part, salt) shuffle groups back
    # into one task, collapsing the files again.
    pre = _derive_for_stage(_to_physical(cur, m), m)
    max_records = None
    if target_files > 1:
        max_rows = (pre.groupBy(cur_pcol).count()
                    .agg(F.max("count")).collect()[0][0])
        max_records = -(-max_rows // target_files)  # ceil
    compacted = pre.repartition(F.col(cur_pcol))
    if order_by:
        ocols = [_phys_name(m.get("col_map"), c) for c in order_by]
        if zorder and len(ocols) > 1:
            from silvia_spark.operators.scale_patterns import zorder_key

            row = pre.agg(*[f(F.col(c).cast("double"))
                            for c in ocols
                            for f in (F.min, F.max)]).collect()[0]
            bounds = [(row[2 * i], row[2 * i + 1])
                      for i in range(len(ocols))]
            compacted = compacted.sortWithinPartitions(
                zorder_key([F.col(c) for c in ocols], bounds))
        else:
            compacted = compacted.sortWithinPartitions(*ocols)
    stats_cols = _doc_stats_cols(m)
    epoch0 = _vacuum_epoch(root)
    new_entries = _stage_write(compacted, root, cur_pcol, max_records,
                               stats_cols=stats_cols)
    segs = list(carried)
    if rehome:
        segs.append(_write_segment(root, rehome, reused=True))
    if new_entries:
        segs.append(_write_segment(root, new_entries))
    segs = _coalesce_segments(root, segs)
    newdoc = _make_doc(m["version"] + 1, m["version"], segs,
                       txns=m.get("txn"), schema=m["schema"],
                       stats_cols=stats_cols, op="compaction")
    _carry_table_meta(newdoc, m)
    if m.get("cdf_enabled"):
        newdoc["cdf"] = {"mode": "none"}  # compaction re-homes bytes,
        #                                   no logical row changes
    claim = (newdoc, [e["path"] for e in new_entries], epoch0)
    return _commit(root, "compaction", _once(m, claim), occ=False,
                   head=m)


# A streaming reader lease older than this is a DEAD stream and stops
# pinning retention (overridable: SILVIA_READER_LEASE_TTL_SEC). Sized
# like Delta's checkpoint-retention guidance: generously above any live
# trigger interval, far below the multi-day lag a genuinely abandoned
# checkpoint accumulates.
_READER_LEASE_TTL_SEC = 86_400.0


def _reader_lease_ttl() -> float:
    return float(os.environ.get("SILVIA_READER_LEASE_TTL_SEC",
                                _READER_LEASE_TTL_SEC))


def _clone_lease_path(root: str, droot: str) -> str:
    import hashlib

    key = hashlib.sha1(droot.encode("utf-8")).hexdigest()[:16]
    return os.path.join(root, _CLONE_LEASES, f"clone-{key}.json")


def _clone_lease_write(root: str, droot: str,
                       src_version: int | None,
                       paths: list[str] | None = None,
                       dvs: list[str] | None = None) -> None:
    """Register a clone's retention lease on an owning root.
    ``src_version`` (the snapshot being cloned, when this root IS the
    direct source) lets vacuum pin the whole version while the clone
    is not yet readable — the creation window. ``paths``/``dvs`` are
    the EXACT files under ``root`` the clone will reference — recorded
    in every lease regardless of root (r12 review finding: an indirect
    owner's lease carried src_version=None AND no file list, so a
    creation-window vacuum on that root pinned nothing and relied on
    the intermediate clone's own lease, which can already be released
    if the intermediate was localized and vacuumed)."""
    FS.makedirs(os.path.join(root, _CLONE_LEASES))
    doc = {"dst": droot, "ts": time.time()}
    if src_version is not None:
        doc["src_version"] = int(src_version)
    if paths:
        doc["paths"] = sorted(paths)
    if dvs:
        doc["dvs"] = sorted(dvs)
    FS.put_atomic(_clone_lease_path(root, droot), json.dumps(doc))


def _clone_pinned(root: str, now: float
                  ) -> tuple[set[str], set[str], int | None]:
    """Files/DVs under ``root`` still referenced by live clones, plus
    the minimum whole-version pin from creation-window leases. Reads
    each lease's clone table and unions the foreign entries pointing
    back here, across ALL of the clone's retained versions (clone-side
    time travel can reach any of them). Stale leases — clone dropped,
    or no longer referencing this root (localized / diverged) — are
    removed here, so release is automatic at the owner's next vacuum."""
    lease_dir = os.path.join(root, _CLONE_LEASES)
    live: set[str] = set()
    live_dv: set[str] = set()
    min_ver: int | None = None
    if not FS.isdir(lease_dir):
        return live, live_dv, min_ver
    for fname in sorted(FS.listdir(lease_dir)):
        if not fname.startswith("clone-"):
            continue
        fp = os.path.join(lease_dir, fname)
        try:
            lease = json.loads(FS.read_text(fp))
            droot = lease["dst"]
        except (FileNotFoundError, ValueError, KeyError, OSError):
            continue
        if current_version(droot) is None:
            age = now - float(lease.get("ts", 0))
            if not FS.isdir(droot):
                # clone_table makedirs(droot) BEFORE any lease lands,
                # so a missing dst directory means the clone was
                # DROPPED (rmtree) — stop pinning (after a short grace
                # against FS listing lag)
                if age > _CLAIM_GRACE_SEC:
                    FS.remove(fp)
                continue
            # dst dir present but unreadable: clone creation still in
            # flight (segment/manifest writes can legitimately take
            # minutes on a big snapshot) or a crashed clone. Pinning by
            # lease age alone was the r12 hazard: a >60s creation lost
            # its lease permanently and the source became vacuumable
            # under a clone that then landed. Keep pinning the
            # recorded exact file list (+ the direct source's whole
            # version) until the reader-lease TTL — a crashed clone
            # holds its sources for one TTL, same policy as an
            # abandoned streaming checkpoint.
            if age > _reader_lease_ttl():
                FS.remove(fp)  # crashed long ago: release
                continue
            sv = lease.get("src_version")
            if sv is not None:
                min_ver = (int(sv) if min_ver is None
                           else min(min_ver, int(sv)))
            live.update(lease.get("paths") or ())
            live_dv.update(lease.get("dvs") or ())
            continue
        pinned = pinned_dv = False
        man_dir = os.path.join(droot, _MANIFESTS)
        seen_segs: set[str] = set()
        try:
            mfs = sorted(FS.listdir(man_dir))
        except (FileNotFoundError, OSError):
            mfs = []
        for mf in mfs:
            if not (mf.startswith("v") and mf.endswith(".json")):
                continue
            try:
                d = _load_doc(droot, int(mf[1:-5]))
            except (FileNotFoundError, ValueError):
                continue
            es = []
            for sg in d["segments"]:
                if sg["path"] in seen_segs:
                    continue
                seen_segs.add(sg["path"])
                try:
                    es.extend(_read_segment(droot, sg["path"]))
                except FileNotFoundError:
                    continue
            for e in es:
                if e.get("base") == root:
                    live.add(e["path"])
                    pinned = True
                if e.get("dv") and e.get("dv_base") == root:
                    live_dv.add(e["dv"])
                    pinned_dv = True
        if not (pinned or pinned_dv):
            # the clone is READABLE and references nothing here: its
            # manifests are authoritative (the creation window is the
            # unreadable-dst branch above), so the lease releases now
            FS.remove(fp)
    return live, live_dv, min_ver


def _min_reader_version(root: str, now: float) -> int | None:
    """Smallest committed version any LIVE streaming reader holds —
    from the ``lease-*.json`` sidecars the manifest streaming source
    refreshes every batch (mtime = liveness)."""
    lease_dir = os.path.join(root, ".stream_admission")
    ttl = _reader_lease_ttl()
    low: int | None = None
    if not FS.isdir(lease_dir):
        return None
    for fname in sorted(FS.listdir(lease_dir)):
        if not fname.startswith("lease-"):
            continue
        fp = os.path.join(lease_dir, fname)
        try:
            if now - FS.mtime(fp) > ttl:
                continue  # dead stream: stops pinning retention
            v = int(json.loads(FS.read_text(fp))["version"])
        except (FileNotFoundError, ValueError, KeyError, OSError):
            continue
        low = v if low is None else min(low, v)
    return low


def vacuum(path: str, keep_versions: int = 1,
           respect_readers: bool = True) -> list[str]:
    """Delete data files referenced by NO retained manifest (the last
    ``keep_versions`` snapshots are retained, and their manifests kept).
    Orphans from crashed commits are removed too, EXCEPT anything that
    might belong to an in-flight commit: an ahead-of-pointer manifest
    younger than ``_CLAIM_GRACE_SEC`` is retained with its files, and a
    data file referenced by NO manifest at all is removed only once its
    mtime passes the same grace (mirroring Delta/Iceberg's retention
    threshold: a committer's freshly adopted files are unreferenced
    until its manifest lands — deleting them mid-adoption would publish
    a snapshot with missing files). Files referenced only by RETIRED
    manifests (superseded snapshots, aged crashed claims) are known-dead
    and deleted immediately regardless of age. Returns deleted relative
    paths. Never touches the current snapshot's files: the current
    manifest is always retained.

    Retention contract for READERS (same one Delta documents): a
    DataFrame resolved from ``read_snapshot(version=k)`` holds a plain
    file list — if vacuum later retires snapshot k, re-executing that
    plan fails with missing input files. Size ``keep_versions`` (and
    vacuum cadence) to exceed the longest downstream job that re-reads a
    pinned version; see SCALE.md. STREAMING readers are protected
    structurally (``respect_readers``, default on): the manifest
    streaming source refreshes a retention lease every batch, and
    expiration widens the keep window to cover any live lease instead
    of stranding a paused checkpointed stream; a lease older than the
    reader TTL is a dead stream and stops pinning (r10 verdict
    item 6)."""
    if keep_versions < 1:
        # keep_versions=0 would empty `keep`, flag every file dead, and
        # delete the current snapshot out from under its own pointer
        raise ValueError("keep_versions must be >= 1 "
                         "(the current snapshot is always retained)")
    root = _norm(path)
    # The ENTIRE vacuum — pointer read, ahead-claim triage, live-set
    # construction, both deletion sweeps — runs under the flip lock.
    # Releasing it between triage and deletion would let a committer
    # claim AND flip in the gap: the stale keep/live sets would then
    # direct the sweeps to delete the just-committed manifest (leaving
    # _current dangling — every read bricked) and its data files.
    # Holding the lock pins the pointer for the whole sweep; committers
    # block for its duration at their flip (a local unlink sweep) rather
    # than race it. Claim MANIFESTS can still be WRITTEN concurrently
    # (the create-exclusive write takes no lock): those appear after the
    # triage listing, are never in it, and their files are protected by
    # the orphan mtime grace below — nothing written mid-vacuum can be
    # deleted by it. Files adopted BEFORE the vacuum but not yet claimed
    # are covered by the same grace because adoption REFRESHES mtime
    # (LocalFS.move_in — grace measures time-since-adoption, not
    # time-since-Spark-wrote-the-staged-file), and as the final belt
    # every commit re-verifies its staged files exist under this same
    # lock before its claim lands (_write_doc verify_paths) — a sweep
    # that somehow won the race aborts the commit instead of letting it
    # publish a snapshot referencing deleted files.
    with FS.locked(root):
        cur = current_version(root)
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot under {root}")
        now0 = time.time()
        keep_from = max(1, cur - keep_versions + 1)
        if respect_readers:
            # Retention vs streaming offsets (r10 verdict item 6): a
            # LIVE checkpointed reader paused at committed version k
            # needs manifests >= k to resume its version-diff batches;
            # expiring past a live lease widens retention instead of
            # stranding the reader (Delta's retention-duration check at
            # expiration time). Dead streams (lease older than the
            # reader TTL) stop pinning; respect_readers=False forces
            # the plain keep_versions window.
            mrv = _min_reader_version(root, now0)
            if mrv is not None and mrv - 1 < keep_from:
                # keep from mrv - 1, not mrv: a limited-mode stream
                # resuming at a mid-version offset (v, i) recomputes
                # FL(v) as the diff from v-1, so the PARENT manifest
                # must survive too (r11 review finding — keeping only
                # >= mrv wedged exactly the stream the lease protects)
                keep_from = max(1, mrv - 1)
        # Clone leases (r12: the shallow-clone hazard closed): files a
        # live clone still references are pinned exactly; a clone mid-
        # creation pins its recorded source version wholesale. Stale
        # leases are removed inside _clone_pinned.
        clone_live: set[str] = set()
        clone_dv: set[str] = set()
        if respect_readers:
            clone_live, clone_dv, cminv = _clone_pinned(root, now0)
            if cminv is not None and cminv < keep_from:
                keep_from = max(1, cminv)
        keep = set(range(keep_from, cur + 1))
        # History checkpoint truncation BEFORE any manifest removal
        # (crash-safe order: a ckpt listing only retained versions is
        # always consistent; a crash after this but before removals
        # just forces a longer walk next time, never phantom history)
        ck = _hist_ckpt_read(root)
        if ck is not None:
            kept_entries_ck = [h for h in ck["entries"]
                               if h["version"] >= keep_from]
            if not kept_entries_ck or ck["version"] < keep_from:
                FS.remove(_hist_ckpt_path(root))
            elif len(kept_entries_ck) != len(ck["entries"]):
                FS.put_atomic(_hist_ckpt_path(root), json.dumps(
                    {"version": ck["version"],
                     "entries": kept_entries_ck}))
        # Manifest triage (single listing — nothing with v <= cur can
        # appear later while we hold the flip lock):
        # - v in keep: retained snapshot, contributes to `live`.
        # - v <= cur, not in keep: RETIRED snapshot — manifest removed,
        #   its file list recorded as known-dead.
        # - v > cur: in-flight optimistic claim or crashed leftover. A
        #   claim lives microseconds; one younger than the grace window
        #   is presumed LIVE and fully retained (manifest AND adopted
        #   files — deleting either would brick the committer mid-flip).
        #   Older ones are crashed: manifest removed HERE under the
        #   lock, so the owner can never flip it; its files are
        #   known-dead.
        now = time.time()
        man_dir = os.path.join(root, _MANIFESTS)
        retired_docs: list[dict] = []
        for mf in sorted(FS.listdir(man_dir)):
            if not (mf.startswith("v") and mf.endswith(".json")):
                continue  # segment files are triaged after the live set
            v = int(mf[1:-5])
            mp = os.path.join(man_dir, mf)
            if v in keep:
                continue
            if (v > cur
                    and now - FS.mtime(mp) <= _CLAIM_GRACE_SEC):
                keep.add(v)
                continue
            try:
                retired_docs.append(json.loads(FS.read_text(mp)))
            except ValueError:
                pass  # unparseable leftover (torn write from a crashed
                #       writer on a non-atomic FS): remove it; its files
                #       are in no live set and age out as orphans
            FS.remove(mp)
        live: set[str] = set()
        live_dv: set[str] = set()
        live_cdf: set[str] = set()
        kept_segs: set[str] = set()
        for v in sorted(keep):
            try:
                doc = _load_doc(root, v)
            except FileNotFoundError:
                if v == cur:
                    raise  # a missing CURRENT manifest is corruption
                keep.discard(v)  # deleted by an earlier tighter vacuum
                continue
            except ValueError:
                if v == cur:
                    raise  # an unreadable CURRENT manifest is corruption
                keep.discard(v)  # mid-write claim on a non-atomic FS:
                continue  # its segments/files are young — grace-spared
            kept_segs |= {s["path"] for s in doc["segments"]}
            kept_entries = _resolve(root, doc)
            live |= {e["path"] for e in kept_entries}
            live_dv |= {e["dv"] for e in kept_entries if e.get("dv")}
            live_cdf |= set(doc.get("cdf", {}).get("files", ()))
        live |= clone_live
        live_dv |= clone_dv
        # epoch bump before the first segment or data-file deletion
        # (still under the lock): even a vacuum that crashes mid-sweep
        # leaves the epoch moved, so every commit whose staging
        # overlapped it re-verifies its staged files at claim time
        # (_write_doc staged_epoch)
        FS.put_atomic(os.path.join(root, _MANIFESTS, ".vacuum_epoch"),
                      str(_vacuum_epoch(root) + 1))
        # Known-dead files = those referenced ONLY by manifests retired
        # above. Segments shared with a kept manifest (carried forward
        # by reference) are NOT dead — the `live` check in the sweep
        # protects their entries, and the segment file itself survives
        # via kept_segs. Dead segments are removed with their manifests.
        dead_known: set[str] = set()
        for doc in retired_docs:
            for s in doc["segments"]:
                if s["path"] in kept_segs:
                    continue
                try:
                    dead_known |= {e["path"]
                                   for e in _read_segment(root,
                                                          s["path"])}
                    FS.remove(_segment_file(root, s["path"]))
                except FileNotFoundError:
                    pass  # shared with an earlier-retired manifest
        # Orphan segment files (written by a commit that crashed before
        # its manifest, or by one whose manifest landed after our
        # triage): same mtime grace as orphan data files.
        _sweep_aged(man_dir, now, _CLAIM_GRACE_SEC,
                    keep=lambda f: not f.startswith("seg-")
                    or f in kept_segs)
        # Crashed-writer temp files: the content-atomic write protocols
        # (put_if_absent's .tmp-*, put_atomic's .<name>-* / *.put-*)
        # leak their temp on a crash between write and link/replace —
        # aged ones are swept here so a long-lived table cannot
        # accumulate them. Live lock/lease files never match. Best
        # effort: a temp file left behind is harmless (no reader or
        # committer ever names it), so no removal error fails vacuum.
        for d in (man_dir, root):
            _sweep_aged(d, now, _CLAIM_GRACE_SEC,
                        keep=lambda f: not (
                            f.startswith(".tmp-") or ".put-" in f
                            or f.startswith(f".{_CURRENT}-")),
                        skip=OSError)
        deleted: list[str] = []
        for part_entry in sorted(FS.listdir(root)):
            part_dir = os.path.join(root, part_entry)
            if "=" not in part_entry or not FS.isdir(part_dir):
                continue
            # a file referenced by NO manifest is either a crashed
            # commit's old orphan, or a LIVE commit's freshly adopted
            # file whose manifest has not landed yet (or landed after
            # our triage listing) — only age can tell them apart, so
            # the grace spares the young; known-dead files go at any age
            deleted += [f"{part_entry}/{f}" for f in _sweep_aged(
                part_dir, now, _CLAIM_GRACE_SEC,
                keep=lambda f: f"{part_entry}/{f}" in live,
                dead=lambda f: f"{part_entry}/{f}" in dead_known)]
            FS.rmdir_if_empty(part_dir)
        # Delete-vector sidecars: same triage as data files — referenced
        # by a kept manifest → live; otherwise the mtime grace spares an
        # in-flight commit_delete's freshly written vector until its
        # claim lands. (Vectors of retired snapshots simply stop being
        # referenced and age out here; compaction-reconciled ones too.)
        # Change-feed sidecars: referenced by a kept manifest's cdf
        # record → live; otherwise the grace spares an in-flight
        # merge/delete's freshly written records until its claim lands.
        # A retired version's records age out with its manifest — the
        # feed's retention window IS the manifest retention window.
        for sub, is_live in ((_DELETES, lambda f: f in live_dv),
                             (_CHANGES,
                              lambda f: f"{_CHANGES}/{f}" in live_cdf)):
            side_dir = os.path.join(root, sub)
            if not FS.isdir(side_dir):
                continue
            deleted += [f"{sub}/{f}" for f in _sweep_aged(
                side_dir, now, _CLAIM_GRACE_SEC,
                keep=lambda f: not f.endswith(".parquet") or is_live(f))]
            FS.rmdir_if_empty(side_dir)
        # Dead streaming-reader leases: past the reader TTL they no
        # longer pin retention (above), so sweep the sidecar too — a
        # long-lived table must not accumulate one file per abandoned
        # checkpoint. Position notes (pos-*) stay: they only bound a
        # restart batch and removing them degrades a legitimately
        # long-paused stream's first batch to unbounded. Best effort
        # like the temp sweep: a dead lease left behind pins nothing.
        lease_dir = os.path.join(root, ".stream_admission")
        if FS.isdir(lease_dir):
            _sweep_aged(lease_dir, now, _reader_lease_ttl(),
                        keep=lambda f: not f.startswith("lease-"),
                        skip=OSError)
        # epoch bump LAST too: a committer whose lock-free epoch capture
        # landed AFTER the start-bump but whose staging overlapped this
        # sweep would otherwise see an unchanged epoch and skip its
        # claim-time verification (r10 review finding) — bracketing the
        # sweep with two bumps makes any overlap visible from either
        # side
        FS.put_atomic(os.path.join(root, _MANIFESTS, ".vacuum_epoch"),
                      str(_vacuum_epoch(root) + 1))
    return deleted


def _sweep_aged(d: str, now: float, max_age: float,
                keep: Callable[[str], bool],
                dead: Callable[[str], bool] = lambda f: False,
                skip: type[OSError] = FileNotFoundError) -> list[str]:
    """Vacuum's one sweep: remove the files of directory ``d`` that
    ``keep`` does not spare and whose mtime is older than ``max_age``
    seconds — at any age when ``dead`` (known-dead: referenced only by
    retired manifests). A file that vanishes mid-sweep (a racing
    vacuum or restage removed it) is skipped; any other removal error
    propagates unless ``skip`` widens the tolerance. Returns the
    removed names."""
    gone: list[str] = []
    for fname in sorted(FS.listdir(d)):
        if keep(fname):
            continue
        fp = os.path.join(d, fname)
        try:
            if not dead(fname) and now - FS.mtime(fp) <= max_age:
                continue
            FS.remove(fp)
        except skip:
            continue
        gone.append(fname)
    return gone


def ensure_table(root: str, build) -> None:
    """Create-once helper for read-only fixture tables shared across
    runs: call ``build()`` (which must create_table at ``root``) unless
    a committed snapshot already exists; a concurrent creator's
    FileExistsError is waited out until its pointer flip lands. Only for
    tables that are never mutated after creation — a contract that
    commits against its table must build a fresh one per run.

    Two racing creators: the claim writes serialize on the flip lock,
    so the second either sees the committed pointer (FileExistsError
    from create_table / the stale-version guard) or replaces the
    first's un-flipped claim — the FIRST's flip then publishes the
    second's manifest, and its post-flip ownership check raises
    FileExistsError (CommitAborted when a creating commit_append
    reclaimed the claim instead). Every loser lands here and waits for
    the winner's pointer."""
    if current_version(root) is not None:
        return
    try:
        build()
    except (FileExistsError, CommitAborted):
        for _ in range(240):
            if current_version(root) is not None:
                return
            time.sleep(0.5)
        raise


def register_snapshot_view(spark: SparkSession, path: str, name: str,
                           version: int | None = None,
                           prune: dict[str, tuple] | None = None
                           ) -> DataFrame:
    """SQL read surface for a manifest table: expose a snapshot as a
    temp view so ``spark.sql("SELECT ... FROM name")`` queries it —
    including time travel (``version=k``) and index-pruned reads —
    through the engine's SQL entry point. The view captures the
    snapshot's resolved file list at REGISTRATION time (snapshot
    isolation, the Delta-reader discipline): commits after registration
    do not shift it; re-register to advance, or register ``version=k``
    views side by side for as-of comparisons in one SQL statement.
    Returns the backing DataFrame."""
    df = read_snapshot(spark, path, version=version, prune=prune)
    df.createOrReplaceTempView(name)
    return df


# --- contract: atomic multi-partition MERGE through the manifest -------------


def _planted_changes(ev: DataFrame) -> DataFrame:
    """The shared L11/L13 change batch over events: updates in click and
    error, inserts in error, a FULL delete of signup (the atomicity case
    a directory swap cannot express). Mirrors the `chg` CTE of both
    oracles exactly."""
    upd = (ev.where(F.col("event_type").isin("click", "error")
                    & (F.col("event_id") % 10 == 0))
           .select("event_id", "event_type",
                   (F.col("value") * 3).alias("value"),
                   F.lit("U").alias("op")))
    dele = (ev.where(F.col("event_type") == "signup")
            .select("event_id", "event_type",
                    F.lit(None).cast("double").alias("value"),
                    F.lit("D").alias("op")))
    ins = (ev.where((F.col("event_type") == "error")
                    & (F.col("event_id") % 10 == 7))
           .select((F.col("event_id") + 10000000).alias("event_id"),
                   F.lit("error").alias("event_type"),
                   (F.col("value") + 1.5).alias("value"),
                   F.lit("I").alias("op")))
    return upd.unionByName(dele).unionByName(ins)

# Change batch planted from the events corpus itself (A13's derivation,
# extended with a FULL-partition delete — signup vanishes entirely, the
# case a directory swap cannot commit atomically). The result reads BOTH
# snapshots after the commit: v1's counts prove time travel / snapshot
# isolation (the merge must not have disturbed the old version), v2's
# aggregates prove the merge; signup's v2 row is the 0-count left-join
# miss, proving the partition drop.
_MANIFEST_ORACLE = """
WITH base AS (SELECT event_id, event_type, value FROM events),
chg AS (
  SELECT event_id, event_type, value * 3 AS value, 'U' AS op
  FROM base WHERE event_type IN ('click', 'error') AND event_id % 10 = 0
  UNION ALL
  SELECT event_id, event_type, NULL, 'D'
  FROM base WHERE event_type = 'signup'
  UNION ALL
  SELECT event_id + 10000000, 'error', value + 1.5, 'I'
  FROM base WHERE event_type = 'error' AND event_id % 10 = 7
),
kept AS (
  SELECT b.event_id, b.event_type, b.value
  FROM base b LEFT JOIN chg c
    ON b.event_id = c.event_id AND b.event_type = c.event_type
  WHERE c.event_id IS NULL
),
merged AS (
  SELECT * FROM kept
  UNION ALL
  SELECT event_id, event_type, value FROM chg WHERE op <> 'D'
),
v1 AS (
  SELECT event_type, count(*) AS cnt_v1 FROM base GROUP BY event_type
),
v2 AS (
  SELECT event_type, count(*) AS cnt_v2,
         CAST(sum(event_id) AS BIGINT) AS id_sum_v2,
         (sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0)
           AS val_sum_v2
  FROM merged GROUP BY event_type
)
SELECT v1.event_type, v1.cnt_v1,
       COALESCE(v2.cnt_v2, 0) AS cnt_v2,
       COALESCE(v2.id_sum_v2, 0) AS id_sum_v2,
       COALESCE(v2.val_sum_v2, 0.0) AS val_sum_v2
FROM v1 LEFT JOIN v2 ON v1.event_type = v2.event_type
ORDER BY v1.event_type
"""


@contract("sink_table_manifest_commit", oracle=_MANIFEST_ORACLE)
def sink_table_manifest_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic multi-partition MERGE: plant events as manifest-table v1,
    commit one change batch touching THREE partitions (updates in click
    and error, inserts in error, a full delete of signup) as ONE
    pointer flip, then read both snapshots back through the manifest.
    The hash proves: v2 equals the relational merge (including signup
    gone — a whole partition atomically dropped), AND v1 is still intact
    after the commit (time travel / snapshot isolation)."""
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_manifest_"), "tbl")
    create_table(ev, root, "event_type")
    commit_merge(spark, root, _planted_changes(ev),
                 ["event_id", "event_type"], "event_type")

    from silvia_spark.functions.numeric import dsum
    v1 = (read_snapshot(spark, root, version=1)
          .groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt_v1")))
    v2 = (read_snapshot(spark, root)
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("cnt_v2"),
               F.sum("event_id").alias("id_sum_v2"),
               dsum("value", "val_sum_v2")))
    return (v1.join(v2, "event_type", "left")
            .select("event_type", "cnt_v1",
                    F.coalesce("cnt_v2", F.lit(0)).alias("cnt_v2"),
                    F.coalesce("id_sum_v2", F.lit(0)).alias("id_sum_v2"),
                    F.coalesce("val_sum_v2", F.lit(0.0)).alias("val_sum_v2"))
            .orderBy("event_type"))


# --- contract: incremental read between snapshots (L13) ----------------------

# The change feed of the L11 merge: files new in v2 = the rewritten
# click/error partitions' full post-merge content (file-granular
# incremental — this table tracks no key stats, so the rewritten
# partitions re-deliver wholesale); signup was
# dropped, so it contributes nothing. The oracle computes the merged
# content restricted to the two rewritten partitions.
_CHANGES_ORACLE = """
WITH base AS (SELECT event_id, event_type, value FROM events),
chg AS (
  SELECT event_id, event_type, value * 3 AS value, 'U' AS op
  FROM base WHERE event_type IN ('click', 'error') AND event_id % 10 = 0
  UNION ALL
  SELECT event_id, event_type, NULL, 'D'
  FROM base WHERE event_type = 'signup'
  UNION ALL
  SELECT event_id + 10000000, 'error', value + 1.5, 'I'
  FROM base WHERE event_type = 'error' AND event_id % 10 = 7
),
kept AS (
  SELECT b.event_id, b.event_type, b.value
  FROM base b LEFT JOIN chg c
    ON b.event_id = c.event_id AND b.event_type = c.event_type
  WHERE c.event_id IS NULL
),
merged AS (
  SELECT * FROM kept
  UNION ALL
  SELECT event_id, event_type, value FROM chg WHERE op <> 'D'
)
SELECT event_type, count(*) AS cnt,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       (sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0) AS val_sum
FROM merged
WHERE event_type IN ('click', 'error')
GROUP BY event_type
ORDER BY event_type
"""


@contract("scan_manifest_changes", oracle=_CHANGES_ORACLE)
def scan_manifest_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption of a manifest table: after the L11 merge,
    ``read_changes(since=1)`` reads ONLY the files added by the v2
    commit — the rewritten click/error partitions — never rescanning the
    untouched bulk. This is the primitive a downstream training-data
    pipeline polls instead of re-reading 100 TB: cost scales with what
    changed. The hash proves the feed is exactly the touched partitions'
    post-merge content (and nothing from the dropped or untouched
    ones)."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mchg_"), "tbl")
    create_table(ev, root, "event_type")
    commit_merge(spark, root, _planted_changes(ev),
                 ["event_id", "event_type"], "event_type")
    return (read_changes(spark, root, since=1)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("event_id").alias("id_sum"),
                 dsum("value", "val_sum"))
            .orderBy("event_type"))


# --- contract: stats-pruned snapshot scan (L14) ------------------------------

_PRUNED_ORACLE = """
SELECT l_returnflag,
       count(*) AS cnt,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
       (sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM lineitem
WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@contract("scan_manifest_pruned", oracle=_PRUNED_ORACLE)
def scan_manifest_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping from the manifest's min/max index: lineitem is
    range-clustered on l_shipdate at write time (repartitionByRange →
    each file covers a narrow date band, the L8 zonemap discipline),
    created as a manifest table with footer stats on l_shipdate, then a
    one-year scan resolves the file list THROUGH the index — only
    overlapping files are handed to Spark, the rest are never listed,
    opened, or footer-read. The in-contract assertion pins that pruning
    genuinely skipped files; the residual row filter + hash proves the
    pruned scan loses nothing. At 100 TB this is the difference between
    a metadata lookup and a cluster-wide file listing."""
    from silvia_spark.operators.scale_patterns import _fixture_table_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice", "l_shipdate")
    root = _fixture_table_dir("silvia_mprune", sf_dir, "lineitem",
                              spark)
    ensure_table(root, lambda: create_table(
        li.repartitionByRange(8, "l_shipdate"), root,
        "l_returnflag", stats_cols=["l_shipdate"]))

    # bounds at the stats' own granularity (str(timestamp)): a bare date
    # string sorts BEFORE that day's midnight stat, so a file whose min
    # is exactly the boundary midnight would be wrongly pruned while the
    # residual filter keeps its rows (r09 review finding)
    lo, hi = "1996-01-01 00:00:00", "1996-12-31 00:00:00"
    entries = load_manifest(root)["files"]
    kept = prune_entries(entries, {"l_shipdate": (lo, hi)})
    assert 0 < len(kept) < len(entries), (
        f"stats pruning skipped nothing ({len(kept)}/{len(entries)} "
        "files kept) — the range clustering or the footer index broke")

    from silvia_spark.functions.numeric import dsum
    snap = read_snapshot(spark, root, prune={"l_shipdate": (lo, hi)})
    return (snap.where(F.col("l_shipdate").between(
        "1996-01-01", "1996-12-31"))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"),
                 dsum("l_extendedprice", "price_sum"))
            .orderBy("l_returnflag"))


# --- contract: schema evolution through the manifest layer (L15) -------------

# An append carrying a NEW column (src) commits through the manifest;
# the evolved snapshot NULL-fills src for every pre-evolution file. The
# oracle reproduces the relational view: base rows with NULL src UNION
# the appended batch. The contract body additionally pins (assertions)
# that v1 time-travels WITHOUT the column and that the change feed since
# v1 carries exactly the appended rows with the new column populated.
_EVOLUTION_ORACLE = """
WITH base AS (SELECT event_id, event_type, value FROM events),
appended AS (
  SELECT event_id + 20000000 AS event_id, event_type,
         value + 0.25 AS value, 'late' AS src
  FROM base WHERE event_type = 'click' AND event_id % 7 = 0
),
v2 AS (
  SELECT event_id, event_type, value, NULL AS src FROM base
  UNION ALL
  SELECT * FROM appended
)
SELECT event_type, count(*) AS cnt, count(src) AS src_cnt,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       (sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0)
         AS val_sum
FROM v2 GROUP BY event_type ORDER BY event_type
"""


@contract("scan_manifest_schema_evolution", oracle=_EVOLUTION_ORACLE)
def scan_manifest_schema_evolution(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Additive schema evolution inside the manifest table (A16's
    mergeSchema discipline composed with L11's atomic commit): plant
    events as v1, append a batch carrying a NEW column (src) as v2, and
    aggregate the evolved snapshot. The hash proves old files NULL-fill
    the new column under the v2 read schema; the in-body assertions pin
    that v1 still reads with its ORIGINAL schema (time travel is
    schema-accurate, not just file-accurate) and that read_changes
    across the evolution boundary delivers exactly the appended rows."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mevo_"), "tbl")
    create_table(ev, root, "event_type")
    batch = (ev.where((F.col("event_type") == "click")
                      & (F.col("event_id") % 7 == 0))
             .select((F.col("event_id") + 20000000).alias("event_id"),
                     "event_type",
                     (F.col("value") + 0.25).alias("value"),
                     F.lit("late").alias("src")))
    commit_append(spark, root, batch, "event_type")

    v1_cols = set(read_snapshot(spark, root, version=1).columns)
    assert "src" not in v1_cols, (
        "time travel leaked the evolved column into the v1 schema")
    feed = read_changes(spark, root, since=1)
    n_appended, n_src = (feed.agg(
        F.count(F.lit(1)), F.count("src")).collect()[0])
    assert n_appended == n_src and n_appended == batch.count(), (
        "change feed across the evolution boundary lost rows or src "
        f"values ({n_appended} rows, {n_src} src)")

    return (read_snapshot(spark, root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.count("src").alias("src_cnt"),
                 F.sum("event_id").alias("id_sum"),
                 dsum("value", "val_sum"))
            .orderBy("event_type"))


# --- contract: stats-pruned file-granular MERGE (L18) -------------------------

# A keyed merge whose change keys sit in the LOW tenth of the l_orderkey
# range, against a table range-clustered on l_orderkey with a per-file
# stats index: only files whose recorded key range overlaps the band
# rewrite; the rest of each touched partition carries by reference. The
# in-contract assertion pins that most files genuinely survived
# path-identical; the hash proves the pruned rewrite loses nothing.
# FLOOR (not bare CAST) for the threshold: DuckDB's double→BIGINT cast
# rounds while Spark's truncates — floor agrees in both.
_MERGE_PRUNED_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM lineitem
),
t AS (
  SELECT CAST(FLOOR(min(l_orderkey)
              + (max(l_orderkey) - min(l_orderkey)) / 10.0) AS BIGINT)
         AS thr
  FROM li
),
chg AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         l_quantity + 50 AS l_quantity, l_extendedprice, 'U' AS op
  FROM li, t WHERE l_orderkey <= thr AND l_orderkey % 5 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, l_returnflag, NULL, NULL, 'D'
  FROM li, t WHERE l_orderkey <= thr AND l_orderkey % 5 = 2
),
kept AS (
  SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.l_quantity,
         b.l_extendedprice
  FROM li b LEFT JOIN chg c
    ON b.l_orderkey = c.l_orderkey AND b.l_linenumber = c.l_linenumber
   AND b.l_returnflag = c.l_returnflag
  WHERE c.l_orderkey IS NULL
),
merged AS (
  SELECT * FROM kept
  UNION ALL
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM chg WHERE op <> 'D'
)
SELECT l_returnflag, count(*) AS cnt,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
       (sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM merged GROUP BY l_returnflag ORDER BY l_returnflag
"""


@contract("sink_merge_pruned", oracle=_MERGE_PRUNED_ORACLE)
def sink_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned file-granular MERGE: lineitem is range-clustered on
    l_orderkey (8 bands per partition) into a manifest table with a
    per-file l_orderkey index; a change batch confined to the LOW tenth
    of the key range (updates on key%5=0, deletes on key%5=2) commits
    through commit_merge. The manifest index proves most files of every
    touched partition cannot contain a change key, so they carry into
    the new snapshot by reference — asserted path-identical in-contract
    — and only the overlapping band rewrites. At 100 TB this is the
    difference between a 1-row update rewriting one file and rewriting
    the partition. The hash proves the pruned rewrite equals the full
    relational merge."""
    from silvia_spark.operators.scale_patterns import _fixture_table_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    thr = lo + (hi - lo) // 10

    import shutil
    import tempfile

    # commits mutate the table: copy the create-once range-clustered
    # fixture into a per-run dir (cheap at test scale) so reruns never
    # see a half-merged parent
    fixture = _fixture_table_dir("silvia_mpr_base", sf_dir, "lineitem",
                                 spark)
    ensure_table(fixture, lambda: create_table(
        li.repartitionByRange(8, "l_orderkey"), fixture,
        "l_returnflag", stats_cols=["l_orderkey"]))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mpruned_"), "tbl")
    shutil.copytree(fixture, root)

    v1_paths = {e["path"] for e in load_manifest(root)["files"]}
    upd = (li.where((F.col("l_orderkey") <= thr)
                    & (F.col("l_orderkey") % 5 == 0))
           .withColumn("l_quantity", F.col("l_quantity") + 50)
           .withColumn("op", F.lit("U")))
    dele = (li.where((F.col("l_orderkey") <= thr)
                     & (F.col("l_orderkey") % 5 == 2))
            .withColumn("l_quantity",
                        F.lit(None).cast(li.schema["l_quantity"].dataType))
            .withColumn("l_extendedprice", F.lit(None).cast(
                li.schema["l_extendedprice"].dataType))
            .withColumn("op", F.lit("D")))
    commit_merge(spark, root, upd.unionByName(dele),
                 ["l_orderkey", "l_linenumber", "l_returnflag"],
                 "l_returnflag")

    v2_paths = {e["path"] for e in load_manifest(root)["files"]}
    carried = v1_paths & v2_paths
    assert len(carried) >= len(v1_paths) // 2 and v2_paths - v1_paths, (
        f"stats-pruned merge carried {len(carried)}/{len(v1_paths)} "
        "files — the per-file key index failed to prune the rewrite set")

    from silvia_spark.functions.numeric import dsum
    return (read_snapshot(spark, root)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"),
                 dsum("l_extendedprice", "price_sum"))
            .orderBy("l_returnflag"))


# --- contract: row-level change feed (L23) -------------------------------------

# The window covers a DV delete (v2) AND a band-confined merge update
# (v3): the feed must deliver exactly the tombstoned rows + the
# update's delete/insert pairs — none of the re-homed unchanged rows
# the rewritten files carry. FLOOR for the threshold (L18's portability
# note).
_CDF_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM lineitem
),
t AS (
  SELECT CAST(FLOOR(min(l_orderkey)
              + (max(l_orderkey) - min(l_orderkey)) / 10.0) AS BIGINT)
         AS thr
  FROM li
),
dv_del AS (
  SELECT * FROM li WHERE l_orderkey % 97 = 3
),
upd_src AS (
  SELECT li.* FROM li, t
  WHERE l_orderkey <= thr AND l_orderkey % 5 = 0
    AND l_orderkey % 97 <> 3
),
feed AS (
  SELECT l_orderkey, l_returnflag, l_quantity,
         'delete' AS _change_type FROM dv_del
  UNION ALL
  SELECT l_orderkey, l_returnflag, l_quantity, 'delete' FROM upd_src
  UNION ALL
  SELECT l_orderkey, l_returnflag, l_quantity + 50, 'insert'
  FROM upd_src
)
SELECT _change_type, l_returnflag, count(*) AS cnt,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum
FROM feed GROUP BY _change_type, l_returnflag
ORDER BY _change_type, l_returnflag
"""


@contract("scan_changes_row_level", oracle=_CDF_ORACLE)
def scan_changes_row_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed (Delta CDF's read shape, built on the DV
    machinery): ``read_changes(row_level=True)`` over a window holding
    a merge-on-read DELETE and a stats-pruned merge UPDATE delivers
    exactly the changed rows tagged insert/delete — tombstoned rows
    resolve from the grown delete vectors, the update's old/new images
    are its delete+insert pair, and the rewritten files' re-homed
    unchanged rows CANCEL (exceptAll over changed files only — never a
    table diff). The hash proves the feed equals the relational diff
    of the two snapshots."""
    from silvia_spark.operators.scale_patterns import _fixture_table_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")
    lo, hi = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).collect()[0]
    thr = lo + (hi - lo) // 10

    import shutil
    import tempfile

    fixture = _fixture_table_dir("silvia_mpr_base", sf_dir, "lineitem",
                                 spark)
    ensure_table(fixture, lambda: create_table(
        li.repartitionByRange(8, "l_orderkey"), fixture,
        "l_returnflag", stats_cols=["l_orderkey"]))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_cdf_"), "tbl")
    shutil.copytree(fixture, root)

    dv_keys = (li.where(F.col("l_orderkey") % 97 == 3)
               .select("l_orderkey", "l_linenumber", "l_returnflag")
               .distinct())
    commit_delete(spark, root, dv_keys,
                  ["l_orderkey", "l_linenumber", "l_returnflag"],
                  "l_returnflag")                              # v2: DV
    upd = (li.where((F.col("l_orderkey") <= thr)
                    & (F.col("l_orderkey") % 5 == 0)
                    & (F.col("l_orderkey") % 97 != 3))
           .withColumn("l_quantity", F.col("l_quantity") + 50)
           .withColumn("op", F.lit("U")))
    commit_merge(spark, root, upd,
                 ["l_orderkey", "l_linenumber", "l_returnflag"],
                 "l_returnflag")                               # v3
    commit_compaction(spark, root, "l_returnflag")             # v4: noise

    feed = read_changes(spark, root, since=1, to=4, row_level=True)
    return (feed.groupBy("_change_type", "l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_orderkey").alias("key_sum"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"))
            .orderBy("_change_type", "l_returnflag"))


# --- contract: column-mapping rename/drop evolution (L22) ---------------------

# The rename happens BETWEEN two data generations, so the hash proves
# old files (written under the physical name 'value') serve the renamed
# logical column 'amount' with their original values, and the dropped
# column vanishes without touching any file.
_RENAMED_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, value AS amount FROM events
),
appended AS (
  SELECT event_id + 50000000 AS event_id, event_type,
         value + 1.5 AS amount
  FROM events WHERE event_type = 'click' AND event_id % 11 = 0
),
unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM appended
)
SELECT event_type, count(*) AS cnt,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       (sum(CAST(round(amount * 1000000) AS BIGINT)) / 1000000.0)
         AS amt_sum
FROM unioned GROUP BY event_type ORDER BY event_type
"""


@contract("scan_manifest_renamed", oracle=_RENAMED_ORACLE)
def scan_manifest_renamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-mapping rename/drop evolution (Delta's name-mapping mode):
    stable column IDs keep their PHYSICAL parquet names, so a RENAME is
    one metadata-only commit (zero files touched — asserted
    path-identical in-contract) and old files serve the renamed column
    through the id; a DROP retires the id (a later re-add can never
    resurrect the dropped generation's values — pytest-pinned).
    Sequence here: v1 data under (value, tag) → v2 renames value→amount
    → v3 drops tag → v4 appends under the NEW logical names. The hash
    sums amount across both generations; in-body assertions pin v1 time
    travel under the ORIGINAL names and the metadata-only commits."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.concat(F.lit("t"), F.col("event_id") % 7).alias("tag"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mren_"), "tbl")
    create_table(ev, root, "event_type")
    v1_paths = {e["path"] for e in load_manifest(root)["files"]}

    rename_column(root, "value", "amount")   # v2: metadata only
    drop_column(root, "tag")                 # v3: metadata only
    assert {e["path"] for e in load_manifest(root)["files"]} == v1_paths, (
        "rename/drop touched data files — they must be metadata-only")

    batch = (ev.where((F.col("event_type") == "click")
                      & (F.col("event_id") % 11 == 0))
             .select((F.col("event_id") + 50000000).alias("event_id"),
                     "event_type",
                     (F.col("value") + 1.5).alias("amount")))
    commit_append(spark, root, batch, "event_type")  # v4, logical names

    snap = read_snapshot(spark, root)
    assert "amount" in snap.columns and "tag" not in snap.columns \
        and "value" not in snap.columns, snap.columns
    t1 = read_snapshot(spark, root, version=1).columns
    assert "value" in t1 and "tag" in t1 and "amount" not in t1, (
        f"time travel leaked the rename into v1's names: {t1}")

    return (snap.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("event_id").alias("id_sum"),
                 dsum("amount", "amt_sum"))
            .orderBy("event_type"))


# --- contract: merge-on-read deletion vectors (L21) ---------------------------

# A scattered-key DELETE (l_orderkey % 97 == 3 — a few hits in EVERY
# file) against the range-clustered lineitem table: the copy-on-write
# path would rewrite every file (every key range contains hits), but
# commit_delete writes one tombstone sidecar instead — the in-contract
# assertion pins that ZERO data files rewrote. The hash proves the
# merge-on-read read (broadcast anti-join on file+row-position) equals
# the plain relational delete.
_DELETE_DV_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM lineitem
),
kept AS (
  SELECT * FROM li WHERE l_orderkey % 97 <> 3
)
SELECT l_returnflag, count(*) AS cnt,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
       (sum(CAST(round(l_extendedprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM kept GROUP BY l_returnflag ORDER BY l_returnflag
"""


@contract("sink_delete_dv", oracle=_DELETE_DV_ORACLE)
def sink_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors: scattered keys
    (l_orderkey % 97 == 3) hit every file of the range-clustered
    lineitem table, so the stats-pruned rewrite (L18) would rewrite the
    whole table; commit_delete instead records each hit's (file,
    row-position) in ONE tombstone sidecar and re-points the entries —
    zero data files rewritten (asserted in-contract). Reads apply the
    vector as a broadcast anti-join; at 100 TB this is the difference
    between a GDPR delete rewriting the table and writing a few MB.
    The hash proves the DV read path equals the relational delete."""
    from silvia_spark.operators.scale_patterns import _fixture_table_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")

    import shutil
    import tempfile

    fixture = _fixture_table_dir("silvia_mpr_base", sf_dir, "lineitem",
                                 spark)
    ensure_table(fixture, lambda: create_table(
        li.repartitionByRange(8, "l_orderkey"), fixture,
        "l_returnflag", stats_cols=["l_orderkey"]))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_dv_"), "tbl")
    shutil.copytree(fixture, root)

    v1_paths = {e["path"] for e in load_manifest(root)["files"]}
    keys = (li.where(F.col("l_orderkey") % 97 == 3)
            .select("l_orderkey", "l_linenumber", "l_returnflag")
            .distinct())
    commit_delete(spark, root, keys,
                  ["l_orderkey", "l_linenumber", "l_returnflag"],
                  "l_returnflag")

    v2 = load_manifest(root)["files"]
    assert {e["path"] for e in v2} == v1_paths and not any(
        e["path"] not in v1_paths for e in v2), (
        "merge-on-read delete rewrote data files — the DV path "
        "degraded to copy-on-write")
    assert any(e.get("dv") for e in v2), (
        "no entry carries a delete vector — the delete matched nothing?")

    from silvia_spark.functions.numeric import dsum
    return (read_snapshot(spark, root)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"),
                 dsum("l_extendedprice", "price_sum"))
            .orderBy("l_returnflag"))


# --- contract: type-widening schema evolution (L20) ---------------------------

_WIDENED_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, value,
         CAST(event_id % 1000 AS INT) AS cnt_i
  FROM events
),
appended AS (
  SELECT event_id + 50000000 AS event_id, event_type,
         value + 0.25 AS value, event_id + 3000000000 AS cnt_i
  FROM base WHERE event_type = 'click' AND event_id % 11 = 0
),
v2 AS (
  SELECT event_id, event_type, value, CAST(cnt_i AS BIGINT) AS cnt_i
  FROM base
  UNION ALL
  SELECT * FROM appended
)
SELECT event_type, count(*) AS cnt,
       CAST(sum(cnt_i) AS BIGINT) AS ci_sum,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       (sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0)
         AS val_sum
FROM v2 GROUP BY event_type ORDER BY event_type
"""


@contract("scan_manifest_widened", oracle=_WIDENED_ORACLE)
def scan_manifest_widened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution (int→bigint through the manifest
    layer, L15's additive discipline extended): v1 records cnt_i as INT;
    a v2 append carries cnt_i values past the int range as BIGINT, which
    WIDENS the recorded schema — v1's int32 files upcast on read (Spark's
    parquet reader does this natively; verified by the hash, which sums
    cnt_i across both generations). In-body assertions pin that v1 time
    travel keeps the ORIGINAL narrow schema and the v2 read schema is
    bigint. Cross-family promotions still refuse (pytest-pinned)."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        (F.col("event_id") % 1000).cast("int").alias("cnt_i"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mwide_"), "tbl")
    create_table(ev, root, "event_type")
    batch = (ev.where((F.col("event_type") == "click")
                      & (F.col("event_id") % 11 == 0))
             .select((F.col("event_id") + 50000000).alias("event_id"),
                     "event_type",
                     (F.col("value") + 0.25).alias("value"),
                     (F.col("event_id") + 3000000000).alias("cnt_i")))
    commit_append(spark, root, batch, "event_type")

    snap = read_snapshot(spark, root)
    types = {f.name: f.dataType.simpleString()
             for f in snap.schema.fields}
    assert types["cnt_i"] == "bigint", (
        f"widening append left cnt_i as {types['cnt_i']}")
    t1 = {f.name: f.dataType.simpleString()
          for f in read_snapshot(spark, root, version=1).schema.fields}
    assert t1["cnt_i"] == "int", (
        "time travel leaked the widened type into the v1 schema")

    return (snap.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("cnt_i").cast("bigint").alias("ci_sum"),
                 F.sum("event_id").alias("id_sum"),
                 dsum("value", "val_sum"))
            .orderBy("event_type"))


# --- contract: commit-time CHECK constraints (L24) ----------------------------

_CONSTRAINED_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders
),
appended AS (
  SELECT o_orderkey + 10000000 AS o_orderkey,
         'O' AS o_orderstatus,
         o_totalprice + 1.0 AS o_totalprice,
         o_orderpriority
  FROM base WHERE o_orderkey % 7 = 0
),
v AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM v GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_append_constrained", oracle=_CONSTRAINED_ORACLE)
def sink_append_constrained(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraints (Delta's ``ADD CONSTRAINT``
    enforcement): the table records SQL predicates as metadata-only
    commits and every later append/merge validates its written rows
    BEFORE staging — a violating commit raises ConstraintViolation,
    writes nothing, and leaves the version unchanged (all asserted
    in-contract). Validation is ONE Spark job per commit regardless of
    constraint count (every predicate evaluated as a flag column on the
    same scan), and adding a constraint validates EXISTING data first,
    so a recorded constraint is an invariant of every snapshot from its
    commit forward. At 100 TB this is the write-side data-quality gate:
    the scan cost rides the commit's own batch, never the table. The
    hash proves the constrained table equals base + the one VALID
    append."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mcons_"), "tbl")
    create_table(od, root, "o_orderpriority")
    add_check_constraint(spark, root, "price_positive",
                         "o_totalprice > 0")
    add_check_constraint(
        spark, root, "status_domain",
        "o_orderstatus IN ('O', 'F', 'P')")

    valid = (od.where(F.col("o_orderkey") % 7 == 0)
             .select((F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                     F.lit("O").alias("o_orderstatus"),
                     (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
                     "o_orderpriority"))
    v_ok = commit_append(spark, root, valid, "o_orderpriority")

    bad = valid.limit(5).withColumn("o_totalprice", F.lit(-1.0))
    try:
        commit_append(spark, root, bad, "o_orderpriority")
        raise AssertionError(
            "violating append committed — constraint not enforced")
    except ConstraintViolation as e:
        assert "price_positive" in str(e)
    assert current_version(root) == v_ok, (
        "refused append advanced the version — the violation left a "
        "committed trace")

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: partition-spec evolution (L26) ---------------------------------

_EVOLVED_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
  FROM orders
),
appended AS (
  SELECT o_orderkey + 10000000 AS o_orderkey,
         o_totalprice + 2.0 AS o_totalprice,
         o_orderstatus, o_orderpriority
  FROM base WHERE o_orderkey % 5 = 0
),
v AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT o_orderpriority, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM v GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@contract("scan_partition_evolved", oracle=_EVOLVED_ORACLE)
def scan_partition_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution (Iceberg's partition evolution, L26):
    the orders table is created partitioned by o_orderstatus, evolved
    to o_orderpriority via a METADATA-ONLY commit (asserted
    path-identical in-contract — at 100 TB this is the difference
    between a catalog update and rewriting the table), then appended
    under the NEW spec. The hash proves the mixed-generation read:
    old files recover o_orderstatus from their directory names while
    o_orderpriority reads as file data, new files the reverse — each
    generation is one plain parquet scan, grouped by the spec its
    paths encode. Merge/delete refuse while specs are mixed (loud,
    never a cross-domain prune) and commit_compaction is the explicit
    migration — pinned in tests/test_partition_evolution.py along
    with streaming reads across specs."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mpev_"), "tbl")
    create_table(od, root, "o_orderstatus", stats_cols=["o_orderkey"])
    before = {e["path"] for e in load_manifest(root)["files"]}
    set_partition_column(root, "o_orderpriority")
    after = {e["path"] for e in load_manifest(root)["files"]}
    assert before == after, (
        "set_partition_column moved data — evolution must be "
        "metadata-only")

    commit_append(
        spark, root,
        od.where(F.col("o_orderkey") % 5 == 0)
        .select((F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                (F.col("o_totalprice") + 2.0).alias("o_totalprice"),
                "o_orderstatus", "o_orderpriority"),
        "o_orderpriority")
    fresh = [e["path"] for e in load_manifest(root)["files"]
             if e["path"] not in before]
    assert fresh and all(p.startswith("o_orderpriority=")
                         for p in fresh), (
        f"post-evolution append did not land under the new spec: "
        f"{fresh[:3]}")

    return (read_snapshot(spark, root)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderpriority"))


# --- contract: commit history + timestamp time travel (L27) -------------------

_TT_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM lineitem
),
appended AS (
  SELECT l_orderkey + 20000000 AS l_orderkey, l_linenumber,
         l_returnflag, l_quantity + 1 AS l_quantity, l_extendedprice
  FROM base WHERE l_orderkey % 13 = 0
),
v2 AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT l_returnflag, count(*) AS cnt,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum
FROM v2 GROUP BY l_returnflag ORDER BY l_returnflag
"""


@contract("scan_time_travel_ts", oracle=_TT_ORACLE)
def scan_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit history + TIMESTAMP AS OF (Delta's DESCRIBE HISTORY /
    timestamp time travel): every commit records its wall time and
    operation kind in the manifest doc; ``table_history`` lists the
    retained log newest-first (O(versions) doc reads, never an entry
    resolution) and ``version_at(ts)`` resolves a wall time to the
    newest version committed at or before it. Here the table takes a
    create → append → merge history; the read resolves the APPEND
    commit's own recorded timestamp — the hash proves it reconstructs
    exactly the v2 state, with the merge invisible. In-body asserts pin
    the op log and that version_at(now) is the head."""
    import tempfile
    import time as _t

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mtt_"), "tbl")
    create_table(li, root, "l_returnflag")
    commit_append(
        spark, root,
        li.where(F.col("l_orderkey") % 13 == 0)
        .select((F.col("l_orderkey") + 20000000).alias("l_orderkey"),
                "l_linenumber", "l_returnflag",
                (F.col("l_quantity") + 1).alias("l_quantity"),
                "l_extendedprice"),
        "l_returnflag")
    commit_merge(
        spark, root,
        li.where(F.col("l_orderkey") % 17 == 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                (F.col("l_quantity") + 500).alias("l_quantity"),
                "l_extendedprice", F.lit("U").alias("op")),
        ["l_orderkey", "l_linenumber", "l_returnflag"], "l_returnflag")

    hist = table_history(root)
    assert [h["op"] for h in hist] == ["merge", "append", "create"], (
        f"history ops drifted: {[h['op'] for h in hist]}")
    assert version_at(root, _t.time()) == 3
    ts2 = next(h["ts"] for h in hist if h["version"] == 2)
    v = version_at(root, ts2)
    assert v == 2, f"version_at(ts of v2) resolved {v}"

    return (read_snapshot(spark, root, version=v)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_orderkey").cast("bigint").alias("key_sum"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"))
            .orderBy("l_returnflag"))


# --- contract: SQL surface over the batch DataSource (L33) --------------------

_SQL_TT_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         l_extendedprice
  FROM lineitem
),
appended AS (
  SELECT l_orderkey + 20000000 AS l_orderkey, l_linenumber,
         l_returnflag, l_quantity + 1 AS l_quantity, l_extendedprice
  FROM base WHERE l_orderkey % 13 = 0
),
v2 AS (SELECT * FROM base UNION ALL SELECT * FROM appended)
SELECT l_returnflag, count(*) AS cnt,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum
FROM v2 WHERE l_quantity <= 25
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@contract("scan_sql_time_travel", oracle=_SQL_TT_ORACLE)
def scan_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest tables addressed from PLAIN SQL through the batch
    DataSource (Delta's ``spark.read.format("delta")`` + ``VERSION AS
    OF`` shape): ``register_table_view`` pins version 2 of a
    create → append → merge history as a temp view, and the query is
    ``spark.sql`` text a BI tool could have issued — no Python table
    API in the read path. Discrimination is real on both axes: reading
    v3 instead of v2 would drop every merged row from the WHERE
    l_quantity <= 25 band (the merge adds +500), and the predicate
    itself reaches the manifest's min/max prune via the source's
    ``pushFilters`` before any file opens (file-level conservative;
    Spark re-applies the exact row filter — the same division of labor
    as read_snapshot(prune=...), proven at the unit level in
    tests/test_manifest_datasource.py). DV masking, column mapping and
    hidden partitioning ride the same shared ``_read_slice`` kernel as
    the CDC stream, so SQL readers cannot observe different table
    semantics than Python readers."""
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        "l_extendedprice")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_sqltt_"), "tbl")
    create_table(li, root, "l_returnflag", stats_cols=["l_quantity"])
    commit_append(
        spark, root,
        li.where(F.col("l_orderkey") % 13 == 0)
        .select((F.col("l_orderkey") + 20000000).alias("l_orderkey"),
                "l_linenumber", "l_returnflag",
                (F.col("l_quantity") + 1).alias("l_quantity"),
                "l_extendedprice"),
        "l_returnflag")
    commit_merge(
        spark, root,
        li.where(F.col("l_orderkey") % 17 == 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                (F.col("l_quantity") + 500).alias("l_quantity"),
                "l_extendedprice", F.lit("U").alias("op")),
        ["l_orderkey", "l_linenumber", "l_returnflag"], "l_returnflag")

    from silvia_spark.sources.manifest_stream import register_table_view

    register_table_view(spark, "silvia_sql_tt", root, version=2)
    return spark.sql("""
        SELECT l_returnflag, count(*) AS cnt,
               CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(l_quantity) AS BIGINT) AS qty_sum
        FROM silvia_sql_tt WHERE l_quantity <= 25
        GROUP BY l_returnflag ORDER BY l_returnflag""")


# --- contract: RESTORE to an earlier version (L28) ----------------------------

_RESTORE_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_restore_version", oracle=_RESTORE_ORACLE)
def sink_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... VERSION AS OF (Delta's): after a DV delete
    and an append, the table restores to v1 as a NEW commit that
    carries v1's segments BY REFERENCE — zero data movement (asserted:
    the restored file set is byte-identical to v1's), history
    preserved (the undone versions stay time-travelable), and on this
    CDF-enabled table the restore records its row-level diff so
    downstream CDC consumers see the rollback as the delete+insert set
    it is (pinned in tests/test_manifest_cdf.py). The hash proves the
    restored read equals the original orders table exactly."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mres_"), "tbl")
    create_table(od, root, "o_orderstatus", cdf=True)
    v1_files = {e["path"] for e in load_manifest(root)["files"]}
    commit_delete(
        spark, root,
        od.where(F.col("o_orderkey") % 11 == 3)
        .select("o_orderkey", "o_orderstatus").distinct(),
        ["o_orderkey", "o_orderstatus"], "o_orderstatus")
    commit_append(
        spark, root,
        od.limit(50).select(
            (F.col("o_orderkey") + 30000000).alias("o_orderkey"),
            "o_totalprice", "o_orderstatus"),
        "o_orderstatus")
    v4 = restore_table(spark, root, 1)
    assert v4 == 4 and current_version(root) == 4
    restored = {e["path"] for e in load_manifest(root)["files"]}
    assert restored == v1_files, (
        "restore moved data — it must re-point, never rewrite")
    assert [h["op"] for h in table_history(root)][0] == "restore"

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: hidden partitioning / partition transforms (L29) ---------------

_HIDDEN_ORACLE = """
SELECT event_type, count(*) AS cnt,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       (sum(CAST(round(value * 1000000) AS BIGINT)) / 1000000.0)
         AS val_sum
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type ORDER BY event_type
"""


@contract("scan_partition_hidden_days", oracle=_HIDDEN_ORACLE)
def scan_partition_hidden_days(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Hidden partitioning (Iceberg's partition transforms, L29): the
    events table is created partitioned by days(ts) — the calendar-day
    value exists ONLY in the directory layout, never in the schema or
    any read (asserted: the snapshot's columns are exactly the source
    columns) — and a prune on the RAW timestamp maps through the
    transform to directory skipping (asserted: the pruned scan opens
    only the window's day-files, a fraction of the table). This is THE
    100 TB time-series layout: writers never materialize a day column,
    queries predicate on ts and still skip 29/30 of the files. bucket/
    truncate transforms, the python/Spark derivation parity, and
    merge/delete/compaction/CDF over transform tables are pinned in
    tests/test_partition_transform.py."""
    import datetime
    import tempfile

    from silvia_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mhid_"), "tbl")
    create_table(ev, root, "ts", transform="days")

    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 15)
    snap = read_snapshot(spark, root, prune={"ts": (lo, hi)})
    assert snap.columns == ["event_id", "ts", "event_type", "value"], (
        f"hidden partition column leaked into the read: {snap.columns}")
    total = len(load_manifest(root)["files"])
    opened = snap.select(F.input_file_name()).distinct().count()
    assert opened < total / 2, (
        f"transform pruning opened {opened}/{total} files — the ts "
        "window should skip most of the month")

    return (snap.where((F.col("ts") >= F.lit(lo))
                       & (F.col("ts") < F.lit(hi)))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("event_id").cast("bigint").alias("id_sum"),
                 dsum("value", "val_sum"))
            .orderBy("event_type"))


# --- contract: clustered compaction / OPTIMIZE ZORDER (L30) -------------------

_CLUSTERED_ORACLE = """
SELECT l_returnflag, count(*) AS cnt,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(l_quantity) AS BIGINT) AS qty_sum
FROM lineitem
WHERE l_orderkey BETWEEN 1 AND 3000
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@contract("sink_compact_clustered", oracle=_CLUSTERED_ORACLE)
def sink_compact_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered compaction (Delta's OPTIMIZE ... ZORDER BY, L30): the
    table is created deliberately UNCLUSTERED (every file spans the
    full l_orderkey range, so the stats index prunes nothing), then
    ``commit_compaction(order_by=[l_orderkey])`` rewrites each
    partition sorted with the writer splitting the sorted stream —
    every output file covers a contiguous key range. Asserted
    in-contract: the same narrow-key pruned read opens STRICTLY fewer
    files after clustering. At 100 TB this is the maintenance op that
    turns an append-ordered fact table into one where a point lookup
    touches one file per partition instead of all of them. The hash
    proves clustering is pure layout — the table's content is
    byte-identical to the source."""
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_mclu_"), "tbl")
    create_table(li.repartition(8), root, "l_returnflag",
                 stats_cols=["l_orderkey"])

    def opened(prune):
        return (read_snapshot(spark, root, prune=prune)
                .select(F.input_file_name()).distinct().count())

    rng = {"l_orderkey": (1, 3000)}
    before = opened(rng)
    commit_compaction(spark, root, "l_returnflag", target_files=4,
                      order_by=["l_orderkey"])
    after = opened(rng)
    assert after < before, (
        f"clustering did not tighten the stats index: pruned read "
        f"opened {before} files before, {after} after")

    return (read_snapshot(spark, root, prune=rng)
            .where(F.col("l_orderkey").between(1, 3000))
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("l_orderkey").cast("bigint").alias("key_sum"),
                 F.sum("l_quantity").cast("bigint").alias("qty_sum"))
            .orderBy("l_returnflag"))


# --- contract: shallow clone (L31) --------------------------------------------

_CLONE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
),
appended AS (
  SELECT o_orderkey + 40000000 AS o_orderkey, o_totalprice,
         o_orderstatus
  FROM base WHERE o_orderkey % 19 = 0
),
v AS (SELECT * FROM base UNION ALL SELECT * FROM appended),
kept AS (SELECT * FROM v WHERE o_orderkey % 13 <> 5)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       (sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) / 1000000.0)
         AS price_sum
FROM kept GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("scan_table_clone", oracle=_CLONE_ORACLE)
def scan_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone (Delta's CLONE ... SHALLOW, L31): the clone's v1
    references the source's data files in place — asserted in-contract:
    the clone root holds ZERO data files after creation, which at
    100 TB is the difference between an instant dev/test/experiment
    copy and a table-sized one. The clone then DIVERGES independently:
    an append and a scattered DV delete land on the clone while the
    SOURCE is asserted byte-identical to its pre-clone state (same
    version, same file set, same rowcount). The hash proves the
    diverged clone reads exactly base + appended − deleted, with the
    source's files still serving the un-rewritten bulk through the
    cross-root references. Localization via compaction is pinned in
    tests/test_table_clone.py."""
    import tempfile

    from silvia_spark.functions.numeric import dsum

    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    base_dir = tempfile.mkdtemp(prefix="silvia_mcln_")
    src = os.path.join(base_dir, "src")
    dst = os.path.join(base_dir, "dst")
    create_table(od, src, "o_orderstatus", stats_cols=["o_orderkey"])
    src_files = {e["path"] for e in load_manifest(src)["files"]}

    clone_table(src, dst)
    local = [f for p in FS.listdir(dst) if "=" in p
             for f in FS.listdir(os.path.join(dst, p))
             if f.endswith(".parquet")] if any(
        "=" in p for p in FS.listdir(dst)) else []
    assert not local, (
        f"shallow clone copied data files: {local[:3]}")
    assert read_snapshot(spark, dst).count() == od.count()

    commit_append(
        spark, dst,
        od.where(F.col("o_orderkey") % 19 == 0)
        .select((F.col("o_orderkey") + 40000000).alias("o_orderkey"),
                "o_totalprice", "o_orderstatus"),
        "o_orderstatus")
    commit_delete(
        spark, dst,
        read_snapshot(spark, dst)
        .where(F.col("o_orderkey") % 13 == 5)
        .select("o_orderkey", "o_orderstatus").distinct(),
        ["o_orderkey", "o_orderstatus"], "o_orderstatus")

    assert current_version(src) == 1, "clone writes leaked to source"
    assert {e["path"] for e in load_manifest(src)["files"]} == src_files
    assert read_snapshot(spark, src).count() == od.count(), (
        "the clone's delete reached the source")

    return (read_snapshot(spark, dst)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: SQL DML write path (L34, r13) ----------------------------------

_SQL_INSERT_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey < 2000
), ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey,
         round(o_totalprice * 2, 2) AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey < 500
), t AS (
  SELECT * FROM base UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS price_sum
FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_insert", oracle=_SQL_INSERT_ORACLE)
def sink_sql_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML WRITE surface for manifest tables (L34 — the r12
    verdict's #2): the write path is SQL TEXT end-to-end. A manifest
    table is registered in the session catalog via
    ``register_sql_table`` (a per-table DataSource subclass with the
    root baked in — Spark's Python-DS catalog bridge drops CREATE
    TABLE options before the scan/write workers, measured r13) and
    loaded with a plain ``INSERT INTO ... SELECT`` — Spark's v2 write
    protocol drives ``ManifestInsertWriter``
    (sources/manifest_stream.py): executor tasks stream Arrow batches
    into per-partition parquet under the live layout, the driver
    commit is the same optimistic claim/flip append tail as
    commit_append. The result is a REAL table commit: versioned,
    time-travelable, constraint-enforced, CDF-recorded — asserted here
    by reading v1 back unchanged after the INSERT landed as v2.
    100 TB: the write is executor-parallel with O(batch + segment
    count) driver metadata, identical to the Python path."""
    import tempfile

    from silvia_spark.functions.numeric import dsum
    from silvia_spark.sources.manifest_stream import (read_table,
                                                      register_sql_table)

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msql_"), "tbl")
    create_table(od, root, "o_orderstatus")

    register_sql_table(spark, "silvia_sql_ins", root)
    od.createOrReplaceTempView("silvia_sql_ins_src")
    spark.sql("""
        INSERT INTO silvia_sql_ins
        SELECT o_orderkey + 10000000 AS o_orderkey,
               round(o_totalprice * 2, 2) AS o_totalprice,
               o_orderstatus
        FROM silvia_sql_ins_src WHERE o_orderkey < 500""")

    assert current_version(root) == 2, "SQL INSERT did not commit"
    assert read_snapshot(spark, root, version=1).count() == od.count(), (
        "v1 changed under an append-only INSERT")

    return (read_table(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: persistent catalog (L35, r13) ----------------------------------

_CATALOG_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 3000
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("scan_catalog_attached", oracle=_CATALOG_ORACLE)
def scan_catalog_attached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent catalog (L35 — the r12 verdict's #5): name→root
    bindings live in a CATALOG FILE (one JSON doc, atomically
    replaced), and ``attach_catalog(spark)`` registers every entry as
    a SQL view — the one line a restarted session runs instead of
    per-table registration code. Asserted here: the binding is read
    back from DISK by a fresh attach (the temp view is dropped first,
    so resolution can only come from the catalog file), and a pinned
    entry serves its recorded version. 100 TB: the file holds one row
    per TABLE, read once per session — never per query."""
    import tempfile

    from silvia_spark.catalog import attach_catalog, catalog_add

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 3000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    base = tempfile.mkdtemp(prefix="silvia_mcat_")
    root = os.path.join(base, "tbl")
    cat = os.path.join(base, "catalog.json")
    create_table(od, root, "o_orderstatus")
    catalog_add("silvia_cat_orders", root, catalog=cat)

    spark.catalog.dropTempView("silvia_cat_orders") \
        if spark.catalog.tableExists("silvia_cat_orders") else None
    attached = attach_catalog(spark, catalog=cat)
    assert attached == ["silvia_cat_orders"], attached

    return spark.sql("""
        SELECT o_orderstatus, count(*) AS cnt,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM silvia_cat_orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")


# --- contract: SQL MERGE INTO (L36, r14) --------------------------------------

_SQL_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey < 2000
), src AS (
  SELECT o_orderkey, round(o_totalprice * 2, 2) AS p, o_orderstatus
  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
), kept AS (
  SELECT b.o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL
              THEN round(s.p + 1, 2)
              ELSE b.o_totalprice END AS o_totalprice,
         b.o_orderstatus
  FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
  WHERE s.o_orderkey IS NULL OR s.p <= 400000.0
), ins AS (
  SELECT s.o_orderkey, s.p AS o_totalprice, s.o_orderstatus
  FROM src s LEFT JOIN base b ON s.o_orderkey = b.o_orderkey
  WHERE b.o_orderkey IS NULL
), t AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS price_sum
FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_merge", oracle=_SQL_MERGE_ORACLE)
def sink_sql_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``MERGE INTO`` for manifest tables (L36 — the r13 verdict's
    #1): the full three-clause statement — conditional DELETE,
    UPDATE, and NOT-MATCHED INSERT — as SQL TEXT through
    ``merge_into_sql`` (sources/sql_dml.py), a two-phase stats-pruned
    copy-on-write. Spark's Python DataSource API exposes no
    row-level-operation hooks, so the statement arrives via the
    documented text entry point (the exact fallback the r13 verdict
    prescribed); the COMMIT is the row-level tail every Python DML
    path shares: one atomic flip, constraints enforced, CDF recorded,
    conflicts rebased. Asserted here: the merge landed as ONE version
    and time travel still serves the pre-merge snapshot. ON omits
    the partition column here, so phase 1 is a key-only semi-join of
    the table with the source keys; phase 2 rewrites only the files
    holding a matched row, in one left-outer join with the source —
    O(source + touched files) plus that key scan."""
    import tempfile

    from silvia_spark.functions.numeric import dsum
    from silvia_spark.sources.manifest_stream import register_sql_table
    from silvia_spark.sources.sql_dml import merge_into_sql

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqlm_"), "tbl")
    create_table(od, root, "o_orderstatus", stats_cols=["o_orderkey"])
    register_sql_table(spark, "silvia_sql_mrg", root)
    (load_table(spark, sf_dir, "orders")
     .where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 3000))
     .select("o_orderkey",
             F.round(F.col("o_totalprice") * 2, 2).alias("p"),
             "o_orderstatus")
     .createOrReplaceTempView("silvia_sql_mrg_src"))

    merge_into_sql(spark, """
        MERGE INTO silvia_sql_mrg AS t
        USING silvia_sql_mrg_src AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.p > 400000.0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET o_totalprice = round(s.p + 1, 2)
        WHEN NOT MATCHED THEN
             INSERT (o_orderkey, o_totalprice, o_orderstatus)
             VALUES (s.o_orderkey, s.p, s.o_orderstatus)""")

    assert current_version(root) == 2, "SQL MERGE did not commit"
    assert load_manifest(root)["op"] == "merge"
    assert read_snapshot(spark, root, version=1).count() == od.count(), (
        "v1 changed under the merge — time travel broken")

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: SQL UPDATE (L37, r14) -------------------------------------------

_SQL_UPDATE_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(CASE WHEN o_orderkey % 10 = 0
                      THEN round(o_totalprice * 2, 2)
                      ELSE o_totalprice END), 2) AS price_sum
FROM orders WHERE o_orderkey < 2000
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_update", oracle=_SQL_UPDATE_ORACLE)
def sink_sql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``UPDATE ... SET ... WHERE`` (L37 — the r13 verdict's #9
    stretch): a predicate update as SQL text through ``update_sql`` →
    ``commit_update`` — positional row identity (no key columns
    required, unlike MERGE), one DV-applied pre-scan finding touched
    partitions and per-partition hit ranges on the stats index, then
    a file-granular copy-on-write where only files whose recorded
    range can hold a match rewrite (pinned by
    tests/test_sql_dml.py::test_update_sql_stats_pruning_carries_files).
    FALSE/NULL predicate rows pass through byte-identical; a no-match
    update is a version-preserving no-op."""
    import tempfile

    from silvia_spark.functions.numeric import dsum
    from silvia_spark.sources.sql_dml import update_sql

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqlu_"), "tbl")
    create_table(od, root, "o_orderstatus", stats_cols=["o_orderkey"])

    update_sql(spark, f"""
        UPDATE `{root}`
        SET o_totalprice = round(o_totalprice * 2, 2)
        WHERE o_orderkey % 10 = 0""")

    assert current_version(root) == 2, "SQL UPDATE did not commit"
    assert load_manifest(root)["op"] == "update"
    assert read_snapshot(spark, root, version=1).count() == od.count()

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))


# --- contract: SQL DELETE (L38, r14) --------------------------------------------

_SQL_DELETE_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 2000 AND o_orderkey % 7 <> 3
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_delete", oracle=_SQL_DELETE_ORACLE)
def sink_sql_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``DELETE FROM ... WHERE`` (L38 — completes the DML triangle
    on the merge-on-read machinery, r13 verdict #9): the statement
    routes through ``delete_sql`` → ``commit_delete``'s PREDICATE
    mode. Sparse hits tombstone into a deletion-vector sidecar (zero
    data files rewritten — the GDPR/CDC shape at 100 TB); files past
    the density crossover rewrite copy-on-write; rows delete where
    the predicate is TRUE (FALSE and NULL keep, SQL semantics).
    Time travel still serves the pre-delete snapshot."""
    import tempfile

    from silvia_spark.sources.sql_dml import delete_sql

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqld_"), "tbl")
    create_table(od, root, "o_orderstatus", stats_cols=["o_orderkey"])

    delete_sql(spark, f"DELETE FROM `{root}` WHERE o_orderkey % 7 = 3")

    assert current_version(root) == 2, "SQL DELETE did not commit"
    assert load_manifest(root)["op"] == "delete"
    assert read_snapshot(spark, root, version=1).count() == od.count()

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"))
            .orderBy("o_orderstatus"))


# --- contract: SQL OPTIMIZE (L39, r14) ------------------------------------------

_SQL_OPTIMIZE_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 2000
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_optimize", oracle=_SQL_OPTIMIZE_ORACLE)
def sink_sql_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``OPTIMIZE ... ZORDER BY`` (L39 — the maintenance verb of
    the r14 DML vocabulary, sources/sql_dml.py): the table is
    deliberately fragmented (four small appends after the create, so
    every partition holds ≥5 files), then ONE statement routes into
    ``commit_compaction(order_by=...)``. The oracle hash proves the
    rewrite is CONTENT-PRESERVING — compaction must never change a
    row — while the in-contract asserts prove it did real work: file
    count strictly drops, the op lands as one 'compaction' version,
    and time travel still serves the fragmented snapshot. 100 TB:
    this is the nightly job that keeps the manifest stats index
    tight; the SQL form makes it one scheduled line."""
    import tempfile

    from silvia_spark.sources.sql_dml import optimize_sql

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqlo_"), "tbl")
    create_table(od.where(F.col("o_orderkey") % 5 == 0), root,
                 "o_orderstatus", stats_cols=["o_orderkey"])
    for rem in (1, 2, 3, 4):
        commit_append(spark, root,
                      od.where(F.col("o_orderkey") % 5 == rem),
                      "o_orderstatus")
    v0 = current_version(root)
    files0 = len(load_manifest(root)["files"])

    optimize_sql(spark, f"OPTIMIZE `{root}` ZORDER BY (o_orderkey)")

    m = load_manifest(root)
    assert current_version(root) == v0 + 1 and m["op"] == "compaction"
    assert len(m["files"]) < files0, (
        f"OPTIMIZE did not reduce files: {files0} → {len(m['files'])}")
    assert read_snapshot(spark, root, version=v0).count() == od.count()

    return (read_snapshot(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"))
            .orderBy("o_orderstatus"))


# --- contract: SQL CREATE TABLE AS (L40, r14) ------------------------------------

_SQL_CTAS_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM orders WHERE o_orderkey < 2500
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_ctas", oracle=_SQL_CTAS_ORACLE)
def sink_sql_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``CREATE TABLE ... PARTITIONED BY ... LOCATION ... AS
    SELECT`` (L40 — the DDL entry of the r14 SQL vocabulary): one
    statement materializes a SELECT as a new manifest table AND
    registers the name for follow-on SQL — the readback below goes
    through ``spark.sql`` against the registered name, so the hash
    proves the whole circle: CTAS → catalog table → SELECT. 100 TB:
    CTAS is executor-parallel staging + one O(files) manifest commit,
    identical to create_table."""
    import tempfile
    import uuid as _uuid

    from silvia_spark.sources.sql_dml import create_table_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "silvia_ctas_src")
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqlc_"), "tbl")
    name = f"silvia_ctas_{_uuid.uuid4().hex[:8]}"
    got_root = create_table_sql(spark, f"""
        CREATE TABLE {name} PARTITIONED BY (o_orderstatus)
        LOCATION '{root}'
        AS SELECT o_orderkey, o_totalprice, o_orderstatus
           FROM silvia_ctas_src WHERE o_orderkey < 2500""")
    assert got_root == root and current_version(root) == 1

    return spark.sql(f"""
        SELECT o_orderstatus, count(*) AS cnt,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM {name}
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")


# --- contract: SQL INSERT OVERWRITE (L41, r14) -----------------------------------

_SQL_OVERWRITE_ORACLE = """
SELECT o_orderstatus, count(*) AS cnt,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(round(o_totalprice * 2, 2)), 2) AS price_sum
FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2500
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@contract("sink_sql_insert_overwrite", oracle=_SQL_OVERWRITE_ORACLE)
def sink_sql_insert_overwrite(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """SQL ``INSERT OVERWRITE`` (L41, r14): the truncate-style
    overwrite Spark's Python-DS bridge delivers — the statement
    replaces the WHOLE table as ONE versioned commit whose manifest
    references the INSERT's files only; the replaced snapshot stays
    time-travelable and restorable (asserted), so nothing is lost to
    the rewrite. Dynamic-mode and PARTITION-scoped overwrites are
    rejected by Spark's own planner for Python DataSources
    (partition-granular replacement lives on commit_merge). The
    oracle derives the post-overwrite table relationally, so the
    driver hash covers write → commit → readback end-to-end.
    100 TB: executor-parallel staging, O(batch + segment) driver
    metadata — a full refresh costs its own data, never a table
    rewrite on top."""
    import tempfile

    from silvia_spark.functions.numeric import dsum
    from silvia_spark.sources.manifest_stream import (
        read_table, register_sql_table)

    od = (load_table(spark, sf_dir, "orders")
          .where(F.col("o_orderkey") < 2000)
          .select("o_orderkey", "o_totalprice", "o_orderstatus"))
    root = os.path.join(tempfile.mkdtemp(prefix="silvia_msqlw_"), "tbl")
    create_table(od, root, "o_orderstatus")
    register_sql_table(spark, "silvia_sql_ow", root)
    (load_table(spark, sf_dir, "orders")
     .where((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2500))
     .select("o_orderkey",
             F.round(F.col("o_totalprice") * 2, 2).alias("p"),
             "o_orderstatus")
     .createOrReplaceTempView("silvia_sql_ow_src"))

    spark.sql("""
        INSERT OVERWRITE silvia_sql_ow
        SELECT o_orderkey, p AS o_totalprice, o_orderstatus
        FROM silvia_sql_ow_src""")

    assert current_version(root) == 2, "OVERWRITE did not commit"
    assert load_manifest(root)["op"] == "overwrite"
    assert read_snapshot(spark, root, version=1).count() == od.count(), (
        "v1 changed under the overwrite — time travel broken")

    return (read_table(spark, root)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                 dsum("o_totalprice", "price_sum"))
            .orderBy("o_orderstatus"))
