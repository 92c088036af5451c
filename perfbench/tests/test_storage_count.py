"""The counting wrapper must delegate every StorageBackend method
unchanged: same arguments in, same result (or exception) out."""

import inspect

import pytest

from dask_awkward_spark.sources.storage import StorageBackend
from storage_count import CLASS_OF, CountingStorage

METHODS = sorted(
    n for n, f in inspect.getmembers(StorageBackend, inspect.isfunction)
    if not n.startswith("_")
)


class Recorder(StorageBackend):
    name = "recorder"

    def __init__(self):
        self.calls = []

    def __getattribute__(self, attr):
        if attr in METHODS:
            calls = object.__getattribute__(self, "calls")

            def method(*args):
                calls.append((attr, args))
                if attr == "read_bytes":
                    return b"abc"
                return ("result", attr, args)

            return method
        return object.__getattribute__(self, attr)


def _args(method, tmp_path):
    params = list(inspect.signature(getattr(StorageBackend, method)).parameters)[1:]
    if method == "put_atomic":
        return (str(tmp_path / "x"), b"12345")
    if method == "put_file_atomic":
        src = tmp_path / "src"
        src.write_bytes(b"1234567")
        return (str(src), str(tmp_path / "dst"))
    return tuple(str(tmp_path / p) for p in params)


def test_every_method_is_overridden():
    for m in METHODS:
        assert getattr(CountingStorage, m) is not getattr(StorageBackend, m), m
        assert m in CLASS_OF, m


@pytest.mark.parametrize("method", METHODS)
def test_delegates_unchanged(method, tmp_path):
    rec = Recorder()
    wrapper = CountingStorage(rec)
    args = _args(method, tmp_path)
    out = getattr(wrapper, method)(*args)
    assert rec.calls == [(method, args)]
    assert out == (b"abc" if method == "read_bytes" else ("result", method, args))
    counts = wrapper.take()
    assert counts[f"{CLASS_OF[method]}_calls"] == 1
    assert sum(v for k, v in counts.items() if k.endswith("_calls")) == 1
    expected_bytes = {"read_bytes": ("read_bytes", 3), "put_atomic": ("put_bytes", 5),
                      "put_file_atomic": ("put_bytes", 7)}.get(method)
    if expected_bytes:
        assert counts[expected_bytes[0]] == expected_bytes[1]
    assert wrapper.take()["read_calls"] == 0  # take() resets


def test_exceptions_pass_through(tmp_path):
    class Missing(StorageBackend):
        name = "missing"

        def read_bytes(self, path):
            raise FileNotFoundError(path)

    with pytest.raises(FileNotFoundError):
        CountingStorage(Missing()).read_bytes(str(tmp_path / "nope"))


def test_wraps_the_real_backends(tmp_path):
    from dask_awkward_spark.sources.storage import ObjectCopyStorageBackend, PosixStorageBackend

    for backend in (PosixStorageBackend(), ObjectCopyStorageBackend()):
        w = CountingStorage(backend)
        p = str(tmp_path / backend.name / "f")
        w.ensure_dir(str(tmp_path / backend.name))
        w.put_atomic(p, b"hello")
        assert w.read_bytes(p) == b"hello"
        assert w.exists(p) and w.size(p) == 5
        assert w.stat_sig(p) == backend.stat_sig(p)
        assert w.list_dir(str(tmp_path / backend.name)) == backend.list_dir(str(tmp_path / backend.name))
        w.delete(p)
        assert not backend.exists(p)
        assert w.name == backend.name
