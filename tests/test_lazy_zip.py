"""Lazy zip-archive invalidation (``session.lazy_zip_invalidation``): once
installed, ``importlib.invalidate_caches()`` reads no zip directory, an
archive that changed is re-read exactly once by the next import from it,
and importers made after the install are lazy too. The checks run in a
fresh interpreter, so this process's own import state is untouched; they
hold on CPython 3.13 and later too, where the install is a no-op.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport

repo, tmp = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from parzig_spark.session import lazy_zip_invalidation


def write(archive, names):
    with zipfile.ZipFile(archive, "w") as z:
        for name in names:
            z.writestr(name + ".py", "NAME = %r\n" % name)


first, second = os.path.join(tmp, "first.zip"), os.path.join(tmp, "second.zip")
write(first, ["mod_a"])
sys.path.insert(0, first)
import mod_a

lazy_zip_invalidation()

reads = []
real = zipimport._read_directory


def counted(path):
    reads.append(path)
    return real(path)


zipimport._read_directory = counted

importlib.invalidate_caches()
assert reads == [], reads

write(first, ["mod_a", "mod_b"])
importlib.invalidate_caches()
assert reads == [], reads
import mod_b

assert mod_b.NAME == "mod_b"
assert reads == [first], reads
try:
    import mod_c
except ModuleNotFoundError:
    pass
assert reads == [first], reads  # a miss reads the cached directory

# an archive put on sys.path after the install gets a lazy importer too
write(second, ["mod_d"])
sys.path.insert(0, second)
import mod_d

del reads[:]
importlib.invalidate_caches()
assert reads == [], reads

hooks = list(sys.path_hooks)
lazy_zip_invalidation()
assert sys.path_hooks == hooks
importlib.invalidate_caches()
assert reads == [], reads
for name in ("mod_a", "mod_b", "mod_d"):
    assert importlib.reload(sys.modules[name]).NAME == name
assert sorted(reads) == sorted([first, second]), reads
print("ok")
"""


def test_lazy_zip_invalidation_semantics(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["ok"]
