"""Crash safety of the control-plane commit primitives (reflex_spark.control).

Each crash case runs the primitive in a child process that ``os._exit``s
at one step of the protocol, then checks from the parent that the target
holds the old state or the complete new one and that the next write
works.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from reflex_spark.control import claim, create_exclusive, write_atomic
from reflex_spark.sources.tx_table import TxTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIED = 17

# The child runs one primitive with os._exit wired into the named step:
#   before_write   — the temp file is never opened
#   before_fsync   — the text is written but not fsynced
#   before_publish — fsynced, but os.replace / os.link never runs
#   after_publish  — published, then killed before any cleanup
_CHILD = r"""
import os, sys
from reflex_spark import control

primitive, step, path = sys.argv[1:4]

def die(*_a, **_k):
    os._exit(%d)

if step == "before_write":
    control.open = die  # module global shadows the builtin open
elif step == "before_fsync":
    os.fsync = die
elif step == "before_publish":
    os.replace = os.link = die
elif step == "after_publish":
    def killed_after(real):
        def publish(*a):
            real(*a)
            die()
        return publish
    os.replace = killed_after(os.replace)
    os.link = killed_after(os.link)

if primitive == "write_atomic":
    control.write_atomic(path, "new")
elif primitive == "create_exclusive":
    control.create_exclusive(path, "new")
else:
    control.claim(path, "test").acquire()
""" % DIED

STEPS = ["before_write", "before_fsync", "before_publish", "after_publish"]


def _kill_at(primitive: str, step: str, path: str) -> None:
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, primitive, step, path],
        cwd=REPO,
        timeout=60,
    )
    assert p.returncode == DIED  # the injected step was reached


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return None


def _visible(d) -> list[str]:
    """What a reader listing the directory sees: temp files must not be
    picked up by the ``*.json`` filters or any non-hidden-file scan."""
    names = os.listdir(d)
    assert all(n.endswith(".tmp") for n in names if n.startswith("."))
    return sorted(n for n in names if not n.startswith("."))


@pytest.mark.parametrize("step", STEPS)
def test_write_atomic_crash_leaves_old_or_new(tmp_path, step):
    target = str(tmp_path / "00000001.json")
    write_atomic(target, "old")
    _kill_at("write_atomic", step, target)
    assert _read(target) == ("new" if step == "after_publish" else "old")
    assert _visible(tmp_path) == ["00000001.json"]
    write_atomic(target, "next")
    assert _read(target) == "next"


@pytest.mark.parametrize("step", STEPS)
def test_create_exclusive_crash_leaves_absent_or_complete(tmp_path, step):
    target = str(tmp_path / "00000001.json")
    _kill_at("create_exclusive", step, target)
    if step == "after_publish":
        assert _read(target) == "new"
        with pytest.raises(FileExistsError):
            create_exclusive(target, "next")
        assert _read(target) == "new"
        create_exclusive(str(tmp_path / "00000002.json"), "next")
    else:
        assert _visible(tmp_path) == []
        create_exclusive(target, "next")
        assert _read(target) == "next"


@pytest.mark.parametrize("step", STEPS)
def test_claim_crash_refuses_until_removed(tmp_path, step):
    path = str(tmp_path / "_writer.claim")
    _kill_at("claim", step, path)
    if step == "after_publish":
        assert _read(path).startswith("pid=")
        with pytest.raises(ValueError, match="_writer.claim.*holder 'pid="):
            claim(path, "test").acquire()
        os.remove(path)
    else:
        assert _visible(tmp_path) == []
    with claim(path, "test"):
        assert _read(path) == f"pid={os.getpid()}"
    assert not os.path.exists(path)


def test_failed_write_removes_temp_file(tmp_path):
    target = str(tmp_path / "CURRENT")
    write_atomic(target, "manifest-1")
    with pytest.raises(TypeError):
        write_atomic(target, None)  # type: ignore[arg-type]
    with pytest.raises(TypeError):
        create_exclusive(str(tmp_path / "x.json"), None)  # type: ignore[arg-type]
    assert os.listdir(tmp_path) == ["CURRENT"]
    assert _read(target) == "manifest-1"


def test_create_exclusive_race_has_one_winner(tmp_path):
    target = str(tmp_path / "00000001.json")
    won: list[str] = []
    lost: list[str] = []

    def commit(text: str) -> None:
        try:
            create_exclusive(target, text)
            won.append(text)
        except FileExistsError:
            lost.append(text)

    threads = [threading.Thread(target=commit, args=(f"w{i}",)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 1 and len(lost) == 7
    assert _read(target) == won[0]
    assert os.listdir(tmp_path) == ["00000001.json"]


def test_tx_table_commit_killed_mid_serialization_stays_readable(spark, tmp_path):
    """A writer killed while serializing its log entry must leave no
    version file behind: an empty one made every later read and append
    fail with JSONDecodeError."""
    path = str(tmp_path / "t")
    table = TxTable(spark, path)
    table.append(spark.range(3).selectExpr("id AS k"))

    class Staged(Exception):
        pass

    staged: dict = {}

    def stage_only(version, entry):
        staged.update(version=version, entry=entry)
        raise Staged

    table._on_before_commit = stage_only
    with pytest.raises(Staged):
        table.append(spark.range(3, 5).selectExpr("id AS k"))

    # the child commits the staged entry and dies inside serialization
    child = (
        "import json, os, sys\n"
        "from reflex_spark.sources.tx_table import TxTable\n"
        "t = TxTable(None, sys.argv[1])\n"
        "def die(*_a, **_k):\n"
        f"    os._exit({DIED})\n"
        "def arm(_v, _e):\n"
        "    json.dump = json.dumps = die\n"
        "t._on_before_commit = arm\n"
        "t._commit(int(sys.argv[2]), json.loads(sys.argv[3]))\n"
    )
    p = subprocess.run(
        [
            sys.executable, "-c", child,
            path, str(staged["version"]), json.dumps(staged["entry"]),
        ],
        cwd=REPO,
        timeout=60,
    )
    assert p.returncode == DIED

    fresh = TxTable(spark, path)
    assert sorted(r.k for r in fresh.read().collect()) == [0, 1, 2]
    assert fresh.latest_version() == 0
    assert fresh.append(spark.range(5, 7).selectExpr("id AS k")) == 1
    assert fresh._versions() == [0, 1]
    assert sorted(r.k for r in fresh.read().collect()) == [0, 1, 2, 5, 6]
