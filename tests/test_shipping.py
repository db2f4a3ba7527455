"""``session.ensure_shipped`` removes the package zip it writes: when the
SparkContext it was shipped to stops, and at interpreter exit otherwise."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter against a stand-in SparkContext, so no JVM
# starts; prints the zip that is left for interpreter exit to remove.
_SCRIPT = """
import os, zipfile
from highs_duckdb_spark.session import ensure_shipped

class Context:
    def __init__(self):
        self.shipped, self.stopped = [], False
    def addPyFile(self, path):
        self.shipped.append(path)
    def stop(self):
        self.stopped = True

class Session:
    def __init__(self):
        self.sparkContext = Context()

a = Session()
ensure_shipped(a)
ensure_shipped(a)
(zpath,) = a.sparkContext.shipped
assert "highs_duckdb_spark/session.py" in zipfile.ZipFile(zpath).namelist()
a.sparkContext.stop()
assert a.sparkContext.stopped and not os.path.exists(os.path.dirname(zpath))

b = Session()
ensure_shipped(b)
(zpath,) = b.sparkContext.shipped
assert os.path.isfile(zpath)
print(zpath)
"""


def test_shipped_zip_removed_on_stop_and_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    zpath = out.stdout.strip().splitlines()[-1]
    assert zpath.startswith(str(tmp_path))
    assert not os.path.exists(os.path.dirname(zpath))
    assert os.listdir(tmp_path) == []
