"""The native kernel's temp-dir fallback loads nothing from a directory
another user could write to, says so in a warning, and the Python path then
gives the same rows."""

import os
import stat
import warnings

import pytest

from deepex_spark.config import DeepExConfig
from deepex_spark.kernel import _cnative
from deepex_spark.kernel import sentence_kernel as sk
from deepex_spark.kernel.sentence_kernel import process_sentence
from deepex_spark.nlp.attention import get_attention_provider
from deepex_spark.sources.pages import synth_doc_for


@pytest.fixture
def read_only_package(tmp_path, monkeypatch):
    """A package dir that cannot serve (no .so under a fresh name, no
    compiler) and a private temp root; returns the fallback dir path and
    the list of .so paths the loader tried to import."""
    monkeypatch.setattr(_cnative.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(_cnative, "_so_name", lambda tag: f"_cbeam_test_{tag}.so")
    monkeypatch.setattr(_cnative, "_compile", lambda so_path: False)
    imported: list[str] = []
    monkeypatch.setattr(_cnative, "_import_so", imported.append)
    return str(tmp_path / f"deepex_cbeam_{os.getuid()}"), imported


def test_world_writable_fallback_dir_is_not_used(read_only_package, monkeypatch):
    fallback, imported = read_only_package
    os.mkdir(fallback)
    os.chmod(fallback, 0o777)
    planted = os.path.join(fallback, _cnative._so_name(_cnative._src_tag()))
    with open(planted, "wb") as f:
        f.write(b"not a shared object")
    with pytest.warns(RuntimeWarning, match=fallback):
        loaded = _cnative.load_cbeam()
    assert loaded is None and imported == []
    assert os.listdir(fallback) == [os.path.basename(planted)]  # no lock either

    # the kernel then runs the Python path, with the native kernel's rows
    cfg = DeepExConfig.small()
    provider = get_attention_provider(cfg)
    sents = [synth_doc_for(i, seed=3)[:300] for i in range(8)]

    def rows():
        return [process_sentence(f"d{i}", 0, s, cfg, provider) for i, s in enumerate(sents)]

    native = rows() if sk._cbeam is not None else None
    monkeypatch.setattr(sk, "_cbeam", loaded)
    python = rows()
    assert sum(map(len, python)) > 0
    if native is not None:
        assert python == native


def test_symlinked_fallback_dir_is_not_used(read_only_package, tmp_path):
    fallback, imported = read_only_package
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    os.symlink(target, fallback)
    with pytest.warns(RuntimeWarning, match=fallback):
        assert _cnative.load_cbeam() is None
    assert imported == [] and os.listdir(target) == []


def test_own_group_writable_fallback_dir_is_reported(read_only_package):
    # what an older release left behind: created with the umask's mode
    fallback, imported = read_only_package
    os.mkdir(fallback)
    os.chmod(fallback, 0o775)
    with pytest.warns(RuntimeWarning, match=r"chmod 700") as caught:
        assert _cnative.load_cbeam() is None
    assert fallback in str(caught[0].message)
    assert imported == [] and os.listdir(fallback) == []

    os.chmod(fallback, 0o700)  # the fix the warning names
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _cnative.load_cbeam() is None  # no compiler, but no warning
    assert os.listdir(fallback) == ["_cbeam.lock"]


def test_missing_fallback_dir_is_created_private(read_only_package):
    fallback, _ = read_only_package
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _cnative.load_cbeam() is None  # no compiler
    mode = os.lstat(fallback).st_mode
    assert stat.S_ISDIR(mode) and stat.S_IMODE(mode) & 0o077 == 0
