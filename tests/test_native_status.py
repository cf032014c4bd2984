"""_native.status(): which kernel path a process runs, and why. Each
failure mode is set up in a fresh interpreter, because lib() caches its
first result for the life of the process."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from goorc_spark.codecs import _native

ROOT = Path(__file__).resolve().parents[1]
_PROBE = ("import json; from goorc_spark.codecs import _native; "
          "print(json.dumps(_native.status()))")


def _status_in_subprocess(**env_overrides) -> dict:
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    env.pop("GOORC_NATIVE", None)
    env.update(env_overrides)
    r = subprocess.run([sys.executable, "-c", _PROBE], env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    return json.loads(r.stdout.strip().splitlines()[-1])


def _build_dir(tmpdir: Path) -> Path:
    return tmpdir / f"goorc_native-{os.geteuid()}"


def test_status_matches_this_process():
    st = _native.status()
    assert set(st) == {"loaded", "path", "reason", "inflate",
                       "inflate_reason"}
    assert st["loaded"] == (_native.lib() is not None)
    assert st["inflate"] == _native.has_inflate()
    assert (st["inflate_reason"] is None) == st["inflate"]
    if st["loaded"]:
        assert st["reason"] is None
        assert os.path.exists(st["path"])
    else:
        assert st["reason"] and not st["inflate"]


def test_status_disabled_by_env():
    assert _status_in_subprocess(GOORC_NATIVE="0") == {
        "loaded": False, "path": None,
        "reason": "disabled by GOORC_NATIVE=0", "inflate": False,
        "inflate_reason": "disabled by GOORC_NATIVE=0"}


# a fresh interpreter (imported with GOORC_NATIVE=0, so nothing is built
# yet) whose first build links a missing library or includes a missing
# header with the zlib kernel
_NO_ZLIB_PROBE = (
    "import json, os, sys; "
    "from goorc_spark.codecs import _native as n; "
    "os.environ['GOORC_NATIVE'] = '1'; "
    "n._lib_cache.clear(); n._ZLIB_FLAGS = tuple(sys.argv[1:]); "
    "from goorc_spark.codecs import byterle, fsst, rlev2; "
    "ok = (rlev2.decode(rlev2.encode([5, 6, 7], True), 3, True).tolist() "
    "== [5, 6, 7] and byterle.encode([0] * 9) == b'\\x06\\x00' "
    "and fsst.decompress(fsst.compress(b'ab' * 99)) == b'ab' * 99); "
    "print(json.dumps(dict(n.status(), ok=ok, "
    "has=n.has_inflate(), cuts=n.orc_chunk_cuts(b'', 1, 1))))")


@pytest.mark.parametrize("flags", [
    ("-DGOORC_ZLIB", "-lgoorc_no_such_zlib"),
    ("-DGOORC_ZLIB", "-include", "goorc_no_such_zlib.h", "-lz")],
    ids=["no_libz", "no_header"])
def test_build_without_zlib_keeps_every_other_kernel(tmp_path, flags):
    """When the zlib kernel does not build, the build is retried without
    it: every other kernel loads, ORC zlib streams take the Python path,
    and status() says why."""
    if not _native.status()["loaded"]:
        pytest.skip("no C compiler in this process")
    env = dict(os.environ, PYTHONPATH=str(ROOT), TMPDIR=str(tmp_path),
               GOORC_NATIVE="0")
    r = subprocess.run([sys.executable, "-c", _NO_ZLIB_PROBE, *flags],
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    st = json.loads(r.stdout.strip().splitlines()[-1])
    assert st["loaded"] and st["reason"] is None and st["ok"]
    assert st["inflate"] is False and st["has"] is False
    assert st["cuts"] is None
    assert st["inflate_reason"].startswith("built without zlib: ")
    assert "goorc_no_such_zlib" in st["inflate_reason"]
    assert Path(st["path"]).parent == _build_dir(tmp_path)


def test_status_reports_failed_build(tmp_path):
    """No compiler on PATH and no cached .so in a fresh TMPDIR: the build
    fails, the numpy twins run, and status() says why."""
    st = _status_in_subprocess(PATH="", TMPDIR=str(tmp_path))
    assert st["loaded"] is False
    assert Path(st["path"]).parent == _build_dir(tmp_path)
    assert st["reason"].startswith("RuntimeError: no C compiler produced")
    assert "found on PATH" in st["reason"]
    assert list(tmp_path.iterdir()) == [_build_dir(tmp_path)]
    assert list(_build_dir(tmp_path).iterdir()) == []
    assert _build_dir(tmp_path).stat().st_mode & 0o777 == 0o700


@pytest.mark.parametrize("loose", ["so", "dir"])
def test_planted_writable_object_is_never_loaded(tmp_path, loose):
    """A working shared object at the expected path in a fresh TMPDIR is
    refused when group and others can write it, or the directory holding
    it: another user could have planted it."""
    so = Path(_native.status()["path"] or "")
    if not so.is_file():
        pytest.skip("no native build in this process to plant")
    d = _build_dir(tmp_path)
    d.mkdir(mode=0o700)
    planted = d / so.name
    shutil.copyfile(so, planted)
    planted.chmod(0o775 if loose == "so" else 0o700)
    if loose == "dir":
        d.chmod(0o777)
    before = planted.read_bytes()
    st = _status_in_subprocess(TMPDIR=str(tmp_path))
    assert st["loaded"] is False
    assert st["path"] == str(planted)
    what = planted if loose == "so" else d
    assert st["reason"] == (f"PermissionError: refusing {what}: writable "
                            f"by group or others (mode "
                            f"{what.stat().st_mode & 0o777:o})")
    assert planted.read_bytes() == before
    # the same object, private, loads
    d.chmod(0o700)
    planted.chmod(0o700)
    st = _status_in_subprocess(TMPDIR=str(tmp_path))
    assert st["inflate"] == _native.has_inflate()
    assert {k: st[k] for k in ("loaded", "path", "reason")} == {
        "loaded": True, "path": str(planted), "reason": None}


def _compiler() -> str | None:
    return next(filter(None, map(shutil.which, _native._CC_CANDIDATES)),
                None)


@pytest.mark.parametrize("flags", [(), ("-DGOORC_ZLIB",)],
                         ids=["plain", "zlib"])
def test_source_compiles_without_warnings(tmp_path, flags):
    """The kernels build warning-free under -Wall -Wextra with and without
    the zlib kernel, and include no compiler intrinsics header: executors
    build the source with their own plain `cc -O3`, and one whose build
    fails runs every kernel's numpy twin, silently and about 3x slower."""
    assert not re.search(r"#\s*include\s*<\w*intrin\.h>", _native._SRC)
    cc = _compiler()
    if cc is None:
        pytest.skip("no C compiler on PATH")
    src = tmp_path / "goorc_native.c"
    src.write_text(_native._SRC)
    if flags and subprocess.run(
            [cc, "-fsyntax-only", "-x", "c", "-"], input="#include <zlib.h>\n",
            capture_output=True, text=True, timeout=60).returncode:
        pytest.skip("no zlib.h")
    r = subprocess.run([cc, "-Wall", "-Wextra", "-Werror", "-fsyntax-only",
                        *flags, str(src)],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
