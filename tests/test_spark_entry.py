"""``__spark_entry__`` process hygiene: the package zip it ships to the
python workers lives in a temp dir that the process removes when it exits."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A stub session (no JVM): addPyFile and conf.set are all the call touches.
CHILD = """
import os, sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e


class Conf:
    def set(self, key, value):
        pass


class Context:
    def addPyFile(self, path):
        assert os.path.isfile(path)


class Session:
    sparkContext = Context()
    conf = Conf()


e._ensure_workers_have_package(Session())
e._ensure_workers_have_package(Session())
tmp = os.path.dirname(e._PKG_ZIP)
assert os.path.isdir(tmp)
print(tmp)
"""


def test_package_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", CHILD, ROOT], env=env, capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    tmp = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(tmp).startswith("mycelium_pkg_")
    assert os.path.dirname(tmp) == str(tmp_path)
    assert not os.path.exists(tmp)
    assert os.listdir(tmp_path) == []
