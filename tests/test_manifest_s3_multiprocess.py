"""Cross-PROCESS commit stress against the REAL S3 adapter (r10
verdict item 5): the in-process battery (test_manifest_s3.py) proves
the protocol against moto's mock, but lease-based locking and
conditional-put claims are only proven honest when the contenders are
separate OS processes talking to one store over the wire — no shared
interpreter state, no shared _cas_guard, only the store's own
conditional-write semantics. Three appender processes run the
optimistic claim/flip/rebase loop through boto3 against a
ThreadedMotoServer (or a live endpoint via SILVIA_S3_ENDPOINT /
SILVIA_S3_BUCKET) while the parent races vacuum; the invariant is the
usual one — every acknowledged commit's file is in the final snapshot,
exactly once."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import uuid

import pytest

from silvia_spark.operators import manifest_table as mt
from tests.fab_manifest import write_manifest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import json, os, sys, time, uuid
sys.path.insert(0, {repo!r})
from silvia_spark.operators import manifest_table as mt
from silvia_spark.operators.s3_fs import S3FS
from silvia_spark.operators.manifest_fs import LeaseLost

pid = int(sys.argv[1]); root = sys.argv[2]
fs = S3FS(bucket=os.environ["SILVIA_S3_BUCKET"],
          prefix=os.environ["SILVIA_S3_PREFIX"])
mt.FS = fs
acks = {{}}
for j in range(3):
    name = f"part=p1/f-{{pid}}-{{j}}-{{uuid.uuid4().hex[:8]}}.parquet"
    fs.put_atomic(os.path.join(root, name), "x")
    seg = mt._write_segment(root, [{{"path": name, "partition": "p1",
                                     "rows": 1}}])
    cid = uuid.uuid4().hex
    done = False
    for attempt in range(120):
        doc = mt._load_doc(root)
        v = doc["version"] + 1
        nd = mt._make_doc(v, doc["version"], doc["segments"] + [seg],
                          commit_id=cid, schema=doc["schema"])
        nd["part_col"] = "part"
        try:
            mt._write_doc(root, v, nd, occ=True)
        except FileExistsError:
            time.sleep(0.02)
            continue
        except mt.CommitAborted:
            continue
        try:
            if (mt._flip_current(root, v, commit_id=cid)
                    or mt._claim_survived(root, v, commit_id=cid)):
                acks[name] = v
                done = True
                break
        except mt.CommitAborted:
            continue
        except LeaseLost:
            time.sleep(0.02)
            continue
    if not done:
        print("FAIL commit never landed", file=sys.stderr)
        sys.exit(2)
print("ACKS " + json.dumps(acks))
"""


def _endpoint():
    """A live endpoint when the env provides one, else an in-test
    ThreadedMotoServer (started by the fixture below)."""
    return os.environ.get("SILVIA_S3_ENDPOINT")


@pytest.fixture
def s3_env(monkeypatch):
    """(endpoint, bucket, prefix) — live when SILVIA_S3_ENDPOINT +
    SILVIA_S3_BUCKET are set, otherwise a ThreadedMotoServer bound to
    an ephemeral port so separate OS processes can reach one shared
    mock store over HTTP."""
    prefix = f"mp-{uuid.uuid4().hex[:10]}"
    if _endpoint() and os.environ.get("SILVIA_S3_BUCKET"):
        yield _endpoint(), os.environ["SILVIA_S3_BUCKET"], prefix
        return
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    bucket = "silvia-mp-stress"
    c = boto3.client("s3", endpoint_url=endpoint,
                     region_name="us-east-1",
                     aws_access_key_id="test",
                     aws_secret_access_key="test")
    c.create_bucket(Bucket=bucket)
    monkeypatch.setenv("SILVIA_S3_ENDPOINT", endpoint)
    monkeypatch.setenv("SILVIA_S3_BUCKET", bucket)
    monkeypatch.setenv("SILVIA_S3_ACCESS_KEY", "test")
    monkeypatch.setenv("SILVIA_S3_SECRET_KEY", "test")
    try:
        yield endpoint, bucket, prefix
    finally:
        server.stop()


@pytest.mark.full  # CI-mode only: 3 OS processes over HTTP (~30 s)
def test_s3_cross_process_commit_stress(s3_env, monkeypatch):
    from silvia_spark.operators.s3_fs import S3FS

    endpoint, bucket, prefix = s3_env
    fs = S3FS(bucket=bucket, prefix=prefix)
    monkeypatch.setattr(mt, "FS", fs)
    root = "/tbl"
    fs.put_atomic(os.path.join(root, "part=p1", "f0.parquet"), "x")
    write_manifest(root, 1, [{"path": "part=p1/f0.parquet",
                              "partition": "p1", "rows": 1}],
                   parent=None)
    assert mt._flip_current(root, 1)

    env = dict(os.environ, SILVIA_S3_ENDPOINT=endpoint,
               SILVIA_S3_BUCKET=bucket, SILVIA_S3_PREFIX=prefix)
    procs = [subprocess.Popen(
        [sys.executable, "-c", _WORKER.format(repo=_REPO), str(i), root],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        cwd=_REPO, text=True, env=env) for i in (1, 2, 3)]
    # the parent races vacuum through the same wire protocol: lease
    # lock acquisition, ahead-of-pointer claim triage, grace sparing
    import time

    for _ in range(6):
        mt.vacuum(root, keep_versions=2)
        time.sleep(0.5)
    acks: dict[str, int] = {}
    for p in procs:
        out, err = p.communicate(timeout=240)
        assert p.returncode == 0, f"worker failed: {err[-800:]}"
        line = [ln for ln in out.splitlines() if ln.startswith("ACKS ")]
        assert line, out[-500:]
        acks.update(json.loads(line[-1][5:]))

    assert len(acks) == 9  # 3 processes x 3 acknowledged commits
    final = {e["path"] for e in mt.load_manifest(root)["files"]}
    missing = [n for n in acks if n not in final]
    assert not missing, f"acknowledged commits lost: {missing}"
    assert "part=p1/f0.parquet" in final
    assert len(final) == 10
    # every referenced object really exists on the store (no pointer
    # to a vacuumed file)
    for n in sorted(final):
        assert fs.exists(os.path.join(root, n)), n
    # pointer monotonicity held across processes: version == commits+1
    assert mt.current_version(root) == 10
