"""``session.get_spark`` moves the JVM↔Python-worker traffic onto Unix
domain sockets in a private directory that fits AF_UNIX's path limit and
lives exactly as long as the SparkContext."""

from __future__ import annotations

import glob
import os
import stat
import subprocess
import sys
import tempfile

from highs_duckdb_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# AF_UNIX paths hold 107 bytes; pyspark names a socket <dir>/.<uuid4>.sock
_SOCKET_PATH_MAX = 107
_SOCKET_NAME_BYTES = 43


def _socket_dirs() -> set[str]:
    return {
        d
        for base in {tempfile.gettempdir(), "/tmp"}
        for d in glob.glob(os.path.join(base, "hds_uds_*"))
    }


def test_session_uses_private_short_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.basename(sock_dir).startswith("hds_uds_")
    assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700
    assert len(os.fsencode(sock_dir)) + _SOCKET_NAME_BYTES <= _SOCKET_PATH_MAX


def test_reused_session_makes_no_socket_dir(spark):
    before = _socket_dirs()
    again = get_spark("highs_duckdb_spark-tests", cpus=8)
    assert again.sparkContext is spark.sparkContext
    assert _socket_dirs() == before


# A fresh interpreter whose temp directories are too deep for a socket path:
# get_spark (no conf override) must still start, run a table function and
# remove its socket directory when the session stops.
_SCRIPT = """
import os
from highs_duckdb_spark.functions.udtf import register_table_functions
from highs_duckdb_spark.session import get_spark

spark = get_spark("uds-long-tmpdir", cpus=2)
conf = spark.sparkContext.getConf()
sock_dir = conf.get("spark.python.unix.domain.socket.dir")
register_table_functions(spark)
(row,) = spark.sql(
    "SELECT * FROM highs_create_variables('m', 'x', 0.0, 1e30, 1.0, 'continuous')"
).collect()
spark.stop()
print(conf.get("spark.python.unix.domain.socket.enabled"), row.status, sock_dir,
      os.path.exists(sock_dir))
"""


def test_deep_tmpdir_falls_back_and_cleans_up(tmp_path):
    deep = tmp_path / ("t" * max(1, 91 - len(str(tmp_path))))
    deep.mkdir()
    assert len(str(deep)) > 90
    env = dict(
        os.environ,
        TMPDIR=str(deep),
        PYTHONPATH=REPO,
        HDS_REGISTRY_DIR=str(tmp_path / "registry"),
        SPARK_SUBMIT_OPTS=(
            os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={deep}"
        ).strip(),
    )
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    enabled, status, sock_dir, exists = out.stdout.split()[-4:]
    assert (enabled, status, exists) == ("true", "SUCCESS", "False")
    assert os.path.dirname(sock_dir) == "/tmp"
    assert not glob.glob(str(deep / "hds_*"))
