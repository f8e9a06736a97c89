"""The manifest commit protocol against a REAL S3 client (boto3) — the
port the simulator (ObjectStoreSimFS) is the recipe for. Runs
in-process against moto's S3 mock when installed (it implements the
conditional-write headers the protocol rides on), and against a real
endpoint too when SILVIA_S3_ENDPOINT / SILVIA_S3_BUCKET are set
(skipped otherwise — r09 verdict item 4's env-gate).

Spark cannot stage through this adapter (no s3a connector in this
environment), so the battery exercises the PROTOCOL surface: fabricated
tables via FS primitives, claims, fenced flips, usurpation, vacuum
triage, and reclaim — the same scenarios test_manifest_table.py pins on
POSIX and test_manifest_objectstore.py pins on the simulator."""

from __future__ import annotations

import json
import os
import uuid

import pytest

from silvia_spark.operators import manifest_table as mt
from silvia_spark.operators.manifest_fs import LeaseLost
from tests.fab_manifest import write_manifest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")


def _backends():
    out = ["moto"]
    if os.environ.get("SILVIA_S3_ENDPOINT") and os.environ.get(
            "SILVIA_S3_BUCKET"):
        out.append("live")
    return out


@pytest.fixture(params=_backends())
def s3fs(request, monkeypatch):
    from silvia_spark.operators.s3_fs import S3FS

    prefix = f"proto-{uuid.uuid4().hex[:10]}"
    if request.param == "moto":
        from moto import mock_aws

        with mock_aws():
            c = boto3.client("s3", region_name="us-east-1")
            c.create_bucket(Bucket="silvia-proto-tests")
            fs = S3FS(bucket="silvia-proto-tests", prefix=prefix,
                      client=c)
            monkeypatch.setattr(mt, "FS", fs)
            yield fs
    else:
        fs = S3FS(prefix=prefix)
        monkeypatch.setattr(mt, "FS", fs)
        yield fs
        fs.rmtree("/")


def _fab(fs) -> str:
    """One-file table fabricated through FS primitives only (Spark
    cannot stage here)."""
    root = f"/tbl-{uuid.uuid4().hex[:8]}"
    fs.put_atomic(os.path.join(root, "part=p1", "f1.parquet"), "x")
    write_manifest(
        root, 1, [{"path": "part=p1/f1.parquet", "partition": "p1",
                   "rows": 1}], parent=None)
    assert mt._flip_current(root, 1)
    return root


def test_s3_claim_flip_and_time_travel(s3fs):
    root = _fab(s3fs)
    assert mt.current_version(root) == 1
    # optimistic claim: second writer at the same version loses loudly
    write_manifest(root, 2, [{"path": "part=p1/f2.parquet",
                              "partition": "p1", "rows": 1}],
                   parent=1, occ=True)
    with pytest.raises(FileExistsError):
        write_manifest(root, 2, [], parent=1, occ=True)
    s3fs.put_atomic(os.path.join(root, "part=p1", "f2.parquet"), "y")
    assert mt._flip_current(root, 2)
    assert mt.current_version(root) == 2
    # both snapshots resolve (time travel)
    assert [e["path"] for e in mt.load_manifest(root, 1)["files"]] == [
        "part=p1/f1.parquet"]
    assert [e["path"] for e in mt.load_manifest(root, 2)["files"]] == [
        "part=p1/f2.parquet"]


def test_s3_fenced_pointer_refuses_regression(s3fs):
    """r09 advice + r10 review: a lease is not mutual exclusion against
    a STALLED holder, and a lease-content check alone re-opens the gap
    (the holder can stall right after it). The S3 fence is the pointer
    object itself: one GET yields value + etag; a write at/behind the
    read value refuses, and the PUT conditions on that same read's etag
    — no window in which a stalled holder can regress _current."""
    root = _fab(s3fs)
    ptr = os.path.join(root, mt._CURRENT)

    # a write with no lease held at all is refused
    with pytest.raises(LeaseLost):
        s3fs.put_fenced(root, ptr, "2")

    with s3fs.locked(root):
        # takeover while we were stalled: another holder advanced the
        # pointer to 5 — the resumed write of 4 must refuse (regression)
        s3fs.put_atomic(ptr, "5")
        with pytest.raises(LeaseLost, match="already at"):
            s3fs.put_fenced(root, ptr, "4")
        # equal version refuses too (a re-flip of 5 is not ours to make)
        with pytest.raises(LeaseLost, match="already at"):
            s3fs.put_fenced(root, ptr, "5")
        # a broken/re-issued lease refuses even a monotone write — the
        # holder must re-acquire and re-validate (its claim may have
        # been vacuum-reclaimed during the stall)
        s3fs.put_atomic(os.path.join(root, ".flip_lease"), "usurper")
        with pytest.raises(LeaseLost, match="no longer ours"):
            s3fs.put_fenced(root, ptr, "6")
    assert mt.current_version(root) == 5
    s3fs.remove(os.path.join(root, ".flip_lease"))

    # healthy path: held lease, monotone write lands; and the claim
    # verification rolls the pointer BACK when the claim manifest was
    # vacuum-reclaimed during a stall (claim staged OUTSIDE the lock —
    # the lease mutex is not reentrant)
    claim = mt._manifest_path(root, 7)
    mt._write_doc(root, 7, mt._make_doc(7, 6, [], commit_id="x"),
                  occ=True)
    with s3fs.locked(root):
        s3fs.put_fenced(root, ptr, "6")
        assert mt.current_version(root) == 6
        s3fs.remove(claim)  # the vacuum-reclaim during our stall
        # CommitAborted (not LeaseLost): the retryable signal the
        # commit paths already speak — appenders restage on it.
        # (a) reclaim caught by the PRE-PUT check: zero pointer I/O
        with pytest.raises(mt.CommitAborted, match="vanished"):
            s3fs.put_fenced(root, ptr, "7", claim_path=claim)
        assert mt.current_version(root) == 6
        # (b) reclaim landing INSIDE the GET→PUT window: force the
        # pre-PUT probe to pass once so the POST-PUT verification and
        # its conditional rollback are the code under test
        real_probe = s3fs._exists_retry
        calls = {"n": 0}

        def probe_once(p, attempts=3):
            calls["n"] += 1
            return True if calls["n"] == 1 else real_probe(p, attempts)

        s3fs._exists_retry = probe_once
        try:
            with pytest.raises(mt.CommitAborted, match="vanished"):
                s3fs.put_fenced(root, ptr, "7", claim_path=claim)
        finally:
            s3fs._exists_retry = real_probe
    assert mt.current_version(root) == 6, "rollback must restore"


def test_s3_vacuum_retires_and_grace_spares(s3fs, monkeypatch):
    import time as _time

    root = _fab(s3fs)
    # v2 rewrites the table; v1 becomes retirable
    s3fs.put_atomic(os.path.join(root, "part=p1", "f2.parquet"), "y")
    write_manifest(root, 2, [{"path": "part=p1/f2.parquet",
                              "partition": "p1", "rows": 1}],
                   parent=1, occ=True)
    assert mt._flip_current(root, 2)
    # a YOUNG ahead-of-pointer claim with its adopted file
    s3fs.put_atomic(os.path.join(root, "part=p1", "f3.parquet"), "z")
    write_manifest(root, 3, [{"path": "part=p1/f3.parquet",
                              "partition": "p1", "rows": 1}],
                   parent=2, occ=True)

    deleted = mt.vacuum(root, keep_versions=1)
    assert deleted == ["part=p1/f1.parquet"], deleted
    assert s3fs.exists(os.path.join(root, "part=p1", "f3.parquet")), (
        "vacuum deleted a live claim's adopted file")
    assert s3fs.exists(mt._manifest_path(root, 3))

    # age the claim out (S3 LastModified cannot be backdated — advance
    # the clock instead) and vacuum again: the crashed claim reclaims
    real_time = _time.time
    monkeypatch.setattr(mt.time, "time",
                        lambda: real_time() + mt._CLAIM_GRACE_SEC + 60)
    deleted = mt.vacuum(root, keep_versions=1)
    assert deleted == ["part=p1/f3.parquet"]
    assert not s3fs.exists(mt._manifest_path(root, 3))
    # the current snapshot is untouched
    assert mt.current_version(root) == 2
    assert s3fs.exists(os.path.join(root, "part=p1", "f2.parquet"))


def test_s3_write_doc_verifies_staged_files(s3fs):
    root = _fab(s3fs)
    with pytest.raises(mt.CommitAborted, match="vanished before"):
        mt._write_doc(root, 2, mt._make_doc(2, 1, [], commit_id="c"),
                      verify_paths=["part=p1/ghost.parquet"])
    assert not s3fs.exists(mt._manifest_path(root, 2))


def test_s3_reclaim_refuses_committed_version(s3fs):
    root = _fab(s3fs)
    assert mt._reclaim_claim(root, 1) is False
    assert s3fs.exists(mt._manifest_path(root, 1))
    assert mt.current_version(root) == 1


def test_s3_listing_and_segments_roundtrip(s3fs):
    """Segmented (format v2) docs write and resolve through the S3
    listing/read primitives identically to POSIX."""
    root = f"/tbl-{uuid.uuid4().hex[:8]}"
    entries = [{"path": f"part=p1/f{i}.parquet", "partition": "p1",
                "rows": 1, "stats": {"k": [i, i]}} for i in range(5)]
    for e in entries:
        s3fs.put_atomic(os.path.join(root, e["path"]), "x")
    seg = mt._write_segment(root, entries)
    assert seg["count"] == 5 and seg["stats"]["k"] == [0, 4]
    doc = mt._make_doc(1, None, [seg], commit_id="c")
    doc["part_col"] = "part"
    mt._write_doc(root, 1, doc)
    assert mt._flip_current(root, 1, commit_id="c")
    resolved = mt.load_manifest(root)["files"]
    assert [e["path"] for e in resolved] == [
        f"part=p1/f{i}.parquet" for i in range(5)]
    kept = mt.prune_entries(resolved, {"k": (2, 3)})
    assert [e["stats"]["k"] for e in kept] == [[2, 2], [3, 3]]
    assert json.loads(s3fs.read_text(mt._manifest_path(root, 1)))[
        "commit_id"] == "c"


def test_s3_put_if_absent_retries_conditional_conflict(s3fs,
                                                       monkeypatch):
    """r10 advice (LOW): 409 ConditionalRequestConflict means a
    concurrent conditional write was IN FLIGHT — the object may not
    exist. Mapping it to 'exists' made version claims falsely report
    FileExistsError (burning rebase retries) and lease acquisition spin
    on a lease that was never created. The PUT retries instead; only
    412 PreconditionFailed is the definitive 'already exists'."""
    from botocore.exceptions import ClientError

    real = s3fs.c.put_object
    calls = {"n": 0}

    def conflicted_twice(**kw):
        if "IfNoneMatch" in kw and calls["n"] < 2:
            calls["n"] += 1
            raise ClientError(
                {"Error": {"Code": "ConditionalRequestConflict"}},
                "PutObject")
        return real(**kw)

    monkeypatch.setattr(s3fs.c, "put_object", conflicted_twice)
    assert s3fs.put_if_absent("/race/claim.json", "v") is True
    assert calls["n"] == 2
    # a genuine duplicate still reports exists (412 path)
    assert s3fs.put_if_absent("/race/claim.json", "v2") is False
    assert s3fs.read_text("/race/claim.json") == "v"

    # persistent conflicts: decided by an existence probe, never a
    # silent False for an object that was never created
    def always_conflicted(**kw):
        if "IfNoneMatch" in kw:
            raise ClientError(
                {"Error": {"Code": "ConditionalRequestConflict"}},
                "PutObject")
        return real(**kw)

    monkeypatch.setattr(s3fs.c, "put_object", always_conflicted)
    with pytest.raises(ClientError):
        s3fs.put_if_absent("/race/other.json", "v")
    assert s3fs.put_if_absent("/race/claim.json", "v3") is False


def test_s3_move_in_multipart_for_large_objects(monkeypatch):
    """r10 advice (LOW): a single CopyObject caps at 5 GiB — larger
    adopted files must multipart-copy (UploadPartCopy) or adoption
    fails on exactly the large-file workloads the adapter targets.
    Exercised by shrinking the threshold to the 5 MiB minimum part
    size (which moto enforces like real S3), moto-only for the ~11 MiB
    in-memory body."""
    from moto import mock_aws

    from silvia_spark.operators import s3_fs as s3mod

    mib = 1024 * 1024
    monkeypatch.setattr(s3mod, "_COPY_LIMIT", 5 * mib)
    monkeypatch.setattr(s3mod, "_COPY_PART", 5 * mib)
    with mock_aws():
        c = boto3.client("s3", region_name="us-east-1")
        c.create_bucket(Bucket="silvia-mpcopy-tests")
        fs = s3mod.S3FS(bucket="silvia-mpcopy-tests", prefix="mp",
                        client=c)
        # 11 MiB → 2 full parts + a 1 MiB tail (legal: only the last
        # part may be under the minimum)
        body = "0123456789abcdef" * (11 * mib // 16)
        fs.put_atomic("/big/src.bin", body)
        fs.move_in("/big/src.bin", "/big/dst.bin")
        assert fs.read_text("/big/dst.bin") == body
        assert not fs.exists("/big/src.bin")
        # under the limit: the single-request path still works
        fs.put_atomic("/small/src.bin", "tiny")
        fs.move_in("/small/src.bin", "/small/dst.bin")
        assert fs.read_text("/small/dst.bin") == "tiny"
