"""Build-and-load helper for the native beam-walk kernel (_cbeam.c).

The extension is compiled once per machine/interpreter from the committed C
source (no network, plain ``cc`` from the toolchain) into the package
directory — or, when that is read-only, a per-user temp dir keyed by the
source hash (mode 0o700; skipped when it is a symlink, another user's, or
group/other-writable). Concurrent builders (32 local executor python
workers all importing the kernel at once) serialize on an ``fcntl`` lock
and the compile writes to a unique temp name followed by an atomic rename,
so a half-written .so can never be loaded.

``load_cbeam()`` returns the module or ``None`` (no compiler, build error,
or ``DEEPEX_DISABLE_CBEAM=1``) — callers fall back to the pure-Python
implementation, which computes the identical result
(tests/test_cbeam_parity.py pins bit-equality over the fixture corpus).
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import stat
import subprocess
import sys
import sysconfig
import tempfile
import warnings
from collections.abc import Iterator

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cbeam.c")


def _src_tag() -> str:
    with open(_SRC, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _so_name(tag: str) -> str:
    abi = sys.implementation.cache_tag  # e.g. cpython-311
    return f"_cbeam_{tag}.{abi}.so"


def _private_dir(path: str) -> bool:
    """Create ``path`` with mode 0o700 if missing. True only when it is a
    real directory (not a symlink) owned by this user that neither group nor
    others can write: a shared temp dir must not let another local user
    plant the ``.so`` this process would load."""
    try:
        os.mkdir(path, 0o700)
    except FileExistsError:
        pass
    except OSError:
        return False
    try:
        st = os.lstat(path)
    except OSError:
        return False
    if (
        stat.S_ISDIR(st.st_mode)
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    ):
        return True
    # an older release created this dir with the umask's mode (often 0o775);
    # say so, or the native kernel is silently replaced by the Python path
    warnings.warn(
        f"not loading the native beam kernel from {path}: it is a symlink, "
        "another user's, or group/other-writable. Run `chmod 700` on it if "
        "it is your own directory, or remove it so it is re-created private; "
        "until then the slower Python kernel runs.",
        RuntimeWarning,
        stacklevel=2,
    )
    return False


def _candidate_dirs() -> Iterator[str]:
    yield os.path.dirname(os.path.abspath(__file__))
    # the temp fallback is created (and vetted) only when the package dir
    # did not serve
    tmp_dir = os.path.join(tempfile.gettempdir(), f"deepex_cbeam_{os.getuid()}")
    if _private_dir(tmp_dir):
        yield tmp_dir


def _compile(so_path: str) -> bool:
    cc = os.environ.get("CC", "cc")
    include = sysconfig.get_paths()["include"]
    tmp = so_path + f".tmp.{os.getpid()}"
    cmd = [cc, "-O2", "-fPIC", "-shared", f"-I{include}", _SRC, "-o", tmp]
    try:
        r = subprocess.run(cmd, capture_output=True, timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        return False
    if r.returncode != 0:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return False
    os.replace(tmp, so_path)  # atomic on POSIX
    return True


def _import_so(so_path: str):
    # name must match the extension's PyInit__cbeam export
    spec = importlib.util.spec_from_file_location("_cbeam", so_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def load_cbeam():
    if os.environ.get("DEEPEX_DISABLE_CBEAM") == "1":
        return None
    try:
        tag = _src_tag()
    except OSError:
        return None
    for d in _candidate_dirs():
        so_path = os.path.join(d, _so_name(tag))
        if os.path.exists(so_path):
            try:
                return _import_so(so_path)
            except (ImportError, OSError):
                continue
        try:
            lock_path = os.path.join(d, "_cbeam.lock")
            import fcntl

            with open(lock_path, "w") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                try:
                    # a concurrent builder may have won while we waited
                    if not os.path.exists(so_path) and not _compile(so_path):
                        continue
                finally:
                    fcntl.flock(lock, fcntl.LOCK_UN)
            return _import_so(so_path)
        except (ImportError, OSError):
            continue
    return None
