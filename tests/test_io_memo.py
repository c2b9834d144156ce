"""io's memo layer: one store, one bound, one source fingerprint."""

import ast
import os
import pathlib

import pytest

from deepicedrain_spark import io

PACKAGE = pathlib.Path(io.__file__).parent


def _write(path, data: bytes) -> str:
    path.write_bytes(data)
    return str(path)


class _Build:
    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return object()


@pytest.fixture
def memo_clean():
    io.clear_memo()
    yield
    io.clear_memo()


def test_hit_returns_identical_object_without_rebuild(spark, tmp_path, memo_clean):
    f = _write(tmp_path / "a.bin", b"abc")
    build = _Build()
    first = io.memo(spark, ("k",), [f], build)
    assert io.memo(spark, ("k",), [f], build) is first
    assert build.calls == 1 and len(io._MEMO) == 1
    # another key over the same file is another entry
    assert io.memo(spark, ("other",), [f], build) is not first
    assert build.calls == 2 and len(io._MEMO) == 2


def test_rewritten_file_misses(spark, tmp_path, memo_clean):
    f = _write(tmp_path / "a.bin", b"abc")
    build = _Build()
    first = io.memo(spark, ("k",), [f], build)
    st = os.stat(f)
    _write(tmp_path / "a.bin", b"abcd")  # new size
    second = io.memo(spark, ("k",), [f], build)
    assert second is not first and build.calls == 2
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))  # same size, new mtime
    assert io.memo(spark, ("k",), [f], build) is not second
    assert build.calls == 3


def test_no_fingerprint_stores_nothing(spark, tmp_path, memo_clean):
    build = _Build()
    a = io.memo(spark, ("k",), [], build)
    b = io.memo(spark, ("k",), [], build)
    assert a is not b and build.calls == 2
    present = _write(tmp_path / "a.bin", b"abc")
    missing = str(tmp_path / "gone.bin")
    c = io.memo(spark, ("k",), [present, missing], build)
    d = io.memo(spark, ("k",), [present, missing], build)
    assert c is not d and build.calls == 4
    assert io._MEMO == {}
    assert io.fingerprint([]) is None
    assert io.fingerprint([missing]) is None


def test_fingerprint_matches_stat(tmp_path):
    f = _write(tmp_path / "a.bin", b"abcdef")
    st = os.stat(f)
    assert io.fingerprint([f]) == ((f, st.st_mtime_ns, st.st_size),)
    # inputFiles()-style URIs resolve to the same file
    ((_, mtime_ns, size),) = io.fingerprint([pathlib.Path(f).as_uri()])
    assert (mtime_ns, size) == (st.st_mtime_ns, st.st_size)


def test_bound_evicts_oldest(spark, tmp_path, memo_clean):
    f = _write(tmp_path / "a.bin", b"abc")
    build = _Build()
    first = io.memo(spark, (0,), [f], build)
    for i in range(1, io.MEMO_ENTRIES + 1):
        io.memo(spark, (i,), [f], build)
    assert len(io._MEMO) == io.MEMO_ENTRIES
    assert build.calls == io.MEMO_ENTRIES + 1
    # entry 1 survived, entry 0 (the oldest) was evicted and rebuilds
    io.memo(spark, (1,), [f], build)
    assert build.calls == io.MEMO_ENTRIES + 1
    assert io.memo(spark, (0,), [f], build) is not first
    assert build.calls == io.MEMO_ENTRIES + 2


def test_load_table_reuses_scan(spark, memo_clean):
    from conftest import SF_SMALL

    a = io.load_table(spark, SF_SMALL, "documents")
    assert io.load_table(spark, SF_SMALL, "documents") is a
    assert len(io._MEMO) == 1


def _module_dicts(tree: ast.Module) -> list[str]:
    """Module-level names bound to a dict (literal, ``dict()`` call or
    ``dict[...]`` annotation)."""
    out = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value, ann = node.targets, node.value, None
        elif isinstance(node, ast.AnnAssign):
            targets, value, ann = [node.target], node.value, node.annotation
        else:
            continue
        is_dict = (
            isinstance(value, (ast.Dict, ast.DictComp))
            or (isinstance(value, ast.Call) and getattr(value.func, "id", None) == "dict")
            or (ann is not None and ast.unparse(ann).startswith("dict"))
        )
        out += [t.id for t in targets if isinstance(t, ast.Name) and is_dict]
    return out


def _stat_calls(tree: ast.Module) -> int:
    n = 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            n += f.attr == "stat" and isinstance(f.value, ast.Name) and f.value.id == "os"
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            n += any(a.name == "stat" for a in node.names)
    return n


def test_no_hand_rolled_memos_outside_io():
    """Source-keyed reuse goes through io.memo: no module but io.py
    holds a module-level ``*_CACHE`` dict or stats files itself, and
    io.py holds exactly one store."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "io.py":
            if _module_dicts(tree) != ["_MEMO"]:
                offenders.append(f"io.py: stores {_module_dicts(tree)}")
            continue
        offenders += [f"{rel}: {n}" for n in _module_dicts(tree) if n.endswith("_CACHE")]
        if _stat_calls(tree):
            offenders.append(f"{rel}: os.stat")
    assert offenders == []
