"""The fork-free ``file://`` filesystem (jvm/src/agespark/Nio*.java) that
the session recipe (duckdb_age_spark/conf.py) installs.

Stock Hadoop without ``libhadoop.so`` starts a ``chmod`` process per file
and directory it creates and a ``readlink`` process per FileContext rename.
The replacement must leave the same files with the same modes, answer link
queries as the stock class does, and start neither process.  Everything
runs in one subprocess session built by ``apply_recommended_conf``, because
the classes must be on the driver classpath at JVM launch and the suite's
shared session was started without them.  The census is exact: the
subprocess finds logging wrappers first on PATH for ``chmod`` and
``readlink`` (polling ``/proc`` for children misses short ones and also
sees Spark's own rare ``rm -rf`` and ``getconf`` children).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from duckdb_age_spark.conf import apply_recommended_conf
from duckdb_age_spark.streaming import run_available_now, stream_events, windowed_counts_stream

base = {base!r}
spark = (apply_recommended_conf(SparkSession.builder.master("local[2]"), shuffle_partitions=2)
         .config("spark.ui.enabled", "false").getOrCreate())
jvm = spark._jvm
hconf = spark.sparkContext._jsc.hadoopConfiguration()
root = jvm.java.net.URI("file:///")
out = {{
    "fs": jvm.org.apache.hadoop.fs.FileSystem.get(root, hconf).getClass().getName(),
    "afs": jvm.org.apache.hadoop.fs.AbstractFileSystem.get(root, hconf).getClass().getName(),
}}

# spawn census: a parquet write and a stateful drain, after a warm-up
# write.  chmod and readlink on PATH are wrappers that log each call.


def spawned():
    if not os.path.exists({spawn_log!r}):
        return []
    return open({spawn_log!r}).read().splitlines()


spark.range(10).write.parquet(os.path.join(base, "warm"))
before = len(spawned())
spark.range(1000).repartition(2).write.parquet(os.path.join(base, "census"))
drained = run_available_now(
    windowed_counts_stream(stream_events(spark, {sf_dir!r}), window="1 hour"), shuffle_partitions=2
).count()
out["census"] = {{"drained_rows": drained, "spawned": spawned()[before:]}}
before = len(spawned())

# modes: the same calls through the stock and the fork-free classes
Path = jvm.org.apache.hadoop.fs.Path
FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
FS = {{
    "stock": (jvm.org.apache.hadoop.fs.LocalFileSystem, "org.apache.hadoop.fs.local.LocalFs"),
    "nio": (jvm.agespark.NioLocalFileSystem, "agespark.NioLocalFs"),
}}


def make_tree(d, fs_cls, afs_name, umask):
    conf = jvm.org.apache.hadoop.conf.Configuration(hconf)
    conf.set("fs.AbstractFileSystem.file.impl", afs_name)
    if umask is not None:
        conf.set("fs.permissions.umask-mode", umask)
    fs = fs_cls()
    fs.initialize(root, conf)
    f = Path(d + "/f.bin")
    stream = fs.create(f)
    stream.write(bytearray(b"x" * 100))
    stream.close()
    fs.mkdirs(Path(d + "/a/b"))
    fs.mkdirs(Path(d + "/m"), FsPermission("750"))
    for mode in ("640", "705", "000", "1750"):
        fs.mkdirs(Path(d + "/p" + mode))
        fs.setPermission(Path(d + "/p" + mode), FsPermission(mode))
    # FileContext: make a directory, create two files and rename one over
    # the other as a checkpoint commit does
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(root, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == afs_name
    fc.mkdir(Path(d + "/fc/dir"), FsPermission("755"), True)
    flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    no_opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
    for name in ("tmp", "dst"):
        stream = fc.create(Path(d + "/fc/" + name), flags, no_opts)
        stream.write(bytearray(b"y" * 10))
        stream.close()
    overwrite = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(Path(d + "/fc/tmp"), Path(d + "/fc/dst"), overwrite)
    modes = {{}}
    for top, dirs, files in os.walk(d):
        for n in dirs + files:
            p = os.path.join(top, n)
            modes[os.path.relpath(p, d)] = oct(os.lstat(p).st_mode)
    return modes


out["modes"] = {{
    str(umask): {{
        name: make_tree(os.path.join(base, f"modes-{{umask}}", name), *classes, umask)
        for name, classes in FS.items()
    }}
    for umask in (None, "077")
}}
# the stock classes' calls reach the wrappers: the census can see them
out["stock_spawned"] = len(spawned()[before:])

# link status: a file, a symlink to it, a dangling symlink and a missing path
links = os.path.join(base, "links")
os.makedirs(links)
open(os.path.join(links, "file"), "w").write("z")
os.symlink(os.path.join(links, "file"), os.path.join(links, "link"))
os.symlink(os.path.join(links, "gone"), os.path.join(links, "dangling"))


def link_status(fs, p):
    try:
        st = fs.getFileLinkStatus(Path(p))
    except Py4JJavaError as e:
        return ["error", e.java_exception.getClass().getName()]
    target = st.getSymlink().toString() if st.isSymlink() else None
    return [st.isSymlink(), st.isFile(), st.isDirectory(), st.getLen(), target,
            st.getPermission().toString(), st.getPath().toString()]


raw = {{}}
for name, cls in (("stock", jvm.org.apache.hadoop.fs.RawLocalFileSystem),
                  ("nio", jvm.agespark.NioRawLocalFileSystem)):
    fs = cls()
    fs.initialize(root, hconf)
    raw[name] = fs
out["links"] = {{
    name: {{
        form + ":" + n: link_status(fs, prefix + os.path.join(links, n))
        for n in ("file", "link", "dangling", "missing")
        for form, prefix in (("plain", ""), ("qualified", "file:"))
    }}
    for name, fs in raw.items()
}}
spark.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def probe(tmp_path_factory, sf_dir):
    import shutil

    if shutil.which("javac") is None or shutil.which("java") is None:
        pytest.skip("JDK not available: the session runs Hadoop's stock classes")
    from duckdb_age_spark.conf import local_fs_conf

    if not local_fs_conf():
        pytest.skip("the JVM jar cannot be built: the session runs Hadoop's stock classes")
    base = str(tmp_path_factory.mktemp("local_fs"))
    spawn_log = os.path.join(base, "spawned.log")
    wrappers = os.path.join(base, "bin")
    os.makedirs(wrappers)
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        if real is None:
            pytest.skip(f"no {cmd} on PATH")
        with open(os.path.join(wrappers, cmd), "w") as fh:
            fh.write(f'#!/bin/sh\necho "{cmd} $*" >> {spawn_log}\nexec {real} "$@"\n')
        os.chmod(os.path.join(wrappers, cmd), 0o755)
    script = _SCRIPT.format(repo=REPO, base=base, sf_dir=sf_dir, spawn_log=spawn_log)
    env = dict(os.environ, PATH=wrappers + os.pathsep + os.environ["PATH"])
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=REPO, env=env, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    return json.loads(line[len("RESULT ") :])


def test_recipe_session_resolves_file_scheme_to_fork_free_classes(probe):
    assert probe["fs"] == "agespark.NioLocalFileSystem"
    assert probe["afs"] == "agespark.NioLocalFs"


def test_parquet_write_and_stateful_drain_start_no_process(probe):
    """Stock Hadoop runs hundreds of chmod and readlink processes here."""
    assert probe["census"]["drained_rows"] > 0
    assert probe["census"]["spawned"] == []
    assert probe["stock_spawned"] > 0, "the chmod/readlink wrappers saw no stock call"


@pytest.mark.parametrize("umask", ["None", "077"])
def test_modes_equal_stock(probe, umask):
    """Files, .crc files and directories made through the FileSystem and
    the FileContext APIs get the stock classes' modes, under Hadoop's
    default umask (022) and under fs.permissions.umask-mode=077."""
    modes = probe["modes"][umask]
    assert modes["nio"] == modes["stock"]
    assert ".f.bin.crc" in modes["nio"] and "fc/.dst.crc" in modes["nio"], modes["nio"]
    assert "fc/tmp" not in modes["nio"]


def test_link_status_equals_stock(probe):
    """getFileLinkStatus of a file, a symlink, a dangling symlink and a
    missing path, each as a plain and a file:-qualified path."""
    links = probe["links"]
    assert links["nio"] == links["stock"]
    assert links["nio"]["plain:link"][0] is True
    assert links["nio"]["plain:file"][0] is False
