"""_native.status(): which kernel path a process runs, and why. Each
failure mode is set up in a fresh interpreter, because lib() caches its
first result for the life of the process."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

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


def test_status_matches_this_process():
    st = _native.status()
    assert set(st) == {"loaded", "path", "reason"}
    assert st["loaded"] == (_native.lib() is not None)
    if st["loaded"]:
        assert st["reason"] is None
        assert os.path.exists(st["path"])
    else:
        assert st["reason"]


def test_status_disabled_by_env():
    assert _status_in_subprocess(GOORC_NATIVE="0") == {
        "loaded": False, "path": None,
        "reason": "disabled by GOORC_NATIVE=0"}


def test_status_reports_failed_build(tmp_path):
    """No compiler on PATH and no cached .so in a fresh TMPDIR: the build
    fails, the numpy twins run, and status() says why."""
    st = _status_in_subprocess(PATH="", TMPDIR=str(tmp_path))
    assert st["loaded"] is False
    assert Path(st["path"]).parent == tmp_path
    assert st["reason"].startswith("RuntimeError: no C compiler produced")
    assert "found on PATH" in st["reason"]
    assert list(tmp_path.iterdir()) == []
