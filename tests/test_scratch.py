"""Scratch storage (workloads/scratch.py): keyed, atomically published
stores and session-scoped scratch dirs. No Spark session: every ``build``
writes a plain file."""

import os
import pathlib
import re
import sys
import tempfile
import threading
import time

import pytest

from etl_manager_spark.workloads import scratch as S


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _input(path, data=b"rows", mtime_ns=1_700_000_000_000_000_000):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    os.utime(path, ns=(mtime_ns, mtime_ns))
    return str(path)


def _builder(log, payload="built"):
    def build(tmp):
        log.append(tmp)
        pathlib.Path(tmp, "data").write_text(payload)

    return build


def _entries(root, prefix):
    return sorted(n for n in os.listdir(root) if n.startswith(prefix))


def test_scratch_dir_sweep_is_session_scoped(tmp_root):
    """Two interleaved sessions must not evict each other's live scratch
    dirs. Only THIS session's previous dirs and age-expired orphans are
    swept."""
    foreign = tmp_root / "layout_t_sOTHER123_live"  # concurrent session, fresh
    foreign.mkdir()
    orphan = tmp_root / "layout_t_sDEAD0000_old"  # crashed session, ancient
    orphan.mkdir()
    old = time.time() - 2 * S.ORPHAN_SECONDS
    os.utime(orphan, (old, old))

    d1 = S.scratch_dir("layout_t_")
    assert foreign.exists(), "fresh foreign-session dir must survive"
    assert not orphan.exists(), "age-expired orphan must be reclaimed"

    d2 = S.scratch_dir("layout_t_")
    assert not os.path.exists(d1), "own previous dir must be swept"
    assert os.path.exists(d2)
    assert foreign.exists(), "foreign dir survives repeated sweeps"


def test_stored_builds_once_then_reuses(tmp_root, tmp_path):
    src = _input(tmp_path / "sf" / "documents.parquet")
    log = []
    first = S.stored("st", src, "v1", _builder(log))
    again = S.stored("st", src, "v1", _builder(log))
    assert first == again and len(log) == 1
    assert pathlib.Path(first, "data").read_text() == "built"
    assert os.path.basename(first).startswith("st_")
    assert not _entries(tmp_root, ".")


def test_stored_rebuilds_on_same_second_mtime_bump(tmp_root, tmp_path):
    """A key of whole-second mtime would reuse a store built from the
    previous contents of a file rewritten within the same second."""
    path = tmp_path / "sf" / "documents.parquet"
    src = _input(path)
    log = []
    first = S.stored("st", src, "v1", _builder(log))
    _input(path, mtime_ns=1_700_000_000_000_000_001)
    second = S.stored("st", src, "v1", _builder(log))
    assert second != first and len(log) == 2
    assert _entries(tmp_root, "st_") == [os.path.basename(second)]


def test_stored_rebuilds_on_size_change(tmp_root, tmp_path):
    path = tmp_path / "sf" / "documents.parquet"
    src = _input(path)
    log = []
    first = S.stored("st", src, "v1", _builder(log))
    _input(path, data=b"more rows")  # same mtime, new size
    second = S.stored("st", src, "v1", _builder(log))
    assert second != first and len(log) == 2


def test_stored_params_change_rebuilds_and_sweeps_superseded(tmp_root, tmp_path):
    src = _input(tmp_path / "sf" / "documents.parquet")
    other = _input(tmp_path / "sf" / "events.parquet")
    log = []
    old = S.stored("st", src, "v1", _builder(log))
    unrelated = S.stored("st", other, "v1", _builder(log))
    new = S.stored("st", src, "v2", _builder(log))
    assert new != old and len(log) == 3
    assert not os.path.exists(old), "superseded key of the same input is swept"
    assert os.path.exists(unrelated), "other inputs' stores survive"


def test_stored_keeps_same_basename_fixtures_apart(tmp_root, tmp_path):
    a = _input(tmp_path / "a" / "sf0.01" / "documents.parquet")
    b = _input(tmp_path / "b" / "sf0.01" / "documents.parquet")
    sa = S.stored("st", a, "v1", _builder([], "a"))
    sb = S.stored("st", b, "v1", _builder([], "b"))
    assert sa != sb
    # rebuilding neither: each input keeps its own store
    assert S.stored("st", a, "v1", _builder([])) == sa
    assert pathlib.Path(sa, "data").read_text() == "a"
    assert pathlib.Path(sb, "data").read_text() == "b"


def test_stored_failed_build_publishes_nothing(tmp_root, tmp_path):
    src = _input(tmp_path / "sf" / "documents.parquet")

    def build(tmp):
        pathlib.Path(tmp, "partial").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        S.stored("st", src, "v1", build)
    assert os.listdir(tmp_root) == []


def test_stored_reclaims_only_old_hidden_builds(tmp_root, tmp_path):
    src = _input(tmp_path / "sf" / "documents.parquet")
    crashed = tmp_root / ".st_dead.abc"
    crashed.mkdir()
    old = time.time() - 2 * S.ORPHAN_SECONDS
    os.utime(crashed, (old, old))
    live = tmp_root / ".st_live.def"  # a concurrent build in progress
    live.mkdir()
    S.stored("st", src, "v1", _builder([]))
    assert not crashed.exists()
    assert live.exists()


def test_stored_concurrent_builders_publish_one_store(tmp_root, tmp_path):
    """Builders that all finish before any publishes: exactly one rename
    wins, every caller gets the winner's readable store, and each loser's
    copy is discarded."""
    src = _input(tmp_path / "sf" / "documents.parquet")
    n = 2 * (os.cpu_count() or 2)
    all_building = threading.Barrier(n, timeout=30)
    results, errors = [], []

    def build(tmp):
        all_building.wait()
        pathlib.Path(tmp, "data").write_text(threading.current_thread().name)

    def run():
        try:
            results.append(S.stored("st", src, "v1", build))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    threads = [threading.Thread(target=run, name=f"t{i}") for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(results) == n and len(set(results)) == 1
    assert pathlib.Path(results[0], "data").read_text().startswith("t")
    assert _entries(tmp_root, "st_") == [os.path.basename(results[0])]
    assert not _entries(tmp_root, ".")


def test_workloads_create_temp_dirs_only_through_scratch():
    """Every temp dir a workload creates or deletes goes through
    workloads/scratch.py, so no new site can bypass its keying and scoped
    sweep."""
    pkg = pathlib.Path(S.__file__).parent
    banned = re.compile(r"\b(gettempdir|mkdtemp|rmtree)\b")
    offenders = [
        f"{path.name}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "scratch.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert offenders == []
