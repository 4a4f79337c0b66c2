"""Hadoop's local file system without a forked process per file.

Every micro-batch commits small files: the offsets and commits logs, the
source log, the sink manifest, the state-store files and the sink's own part
files. Without ``libhadoop.so`` (pyspark's bundled Hadoop ships none),
Hadoop's ``RawLocalFileSystem`` runs ``chmod`` as a child process for every
file and directory it creates with a permission, ``.crc`` sidecars included,
and ``FileUtil.readLink`` runs ``readlink`` for every ``getFileLinkStatus``;
the FileContext rename that commits a checkpoint file calls it several times.
On a live pipeline that is thousands of processes a minute (README.md, "Local
file system").

``java/NioRawLocalFileSystem.java`` overrides just those two calls with
``java.nio`` system calls and changes nothing else: checksums and the
FileContext checkpoint manager's atomic no-overwrite rename stay Hadoop's.
It is compiled once per (source, ``hadoop-client-api`` jar) with the host's
``javac`` into a user cache outside the repository, and ``session.get_spark``
puts it on the driver class path for ``local[...]`` masters only (a remote
executor could not load it). A host without ``javac`` keeps stock Hadoop.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "java", "NioRawLocalFileSystem.java"
)
_CLASS = "sparkgraft.fs.NioRawLocalFileSystem"

#: Hadoop confs that select the file systems, for ``FileSystem`` and for
#: ``FileContext`` (which the streaming checkpoint manager uses).
HADOOP_CONF = {
    "spark.hadoop.fs.file.impl": f"{_CLASS}$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_CLASS}$LocalFs",
}

log = logging.getLogger(__name__)


def _hadoop_api_jar() -> str | None:
    from pyspark.find_spark_home import _find_spark_home  # noqa: PLC0415

    jars = sorted(
        glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    )
    return jars[-1] if jars else None


def _javac() -> str | None:
    java_home = os.environ.get("JAVA_HOME")
    if java_home and os.access(os.path.join(java_home, "bin", "javac"), os.X_OK):
        return os.path.join(java_home, "bin", "javac")
    return shutil.which("javac")


@functools.cache
def classpath() -> str | None:
    """Directory holding the compiled classes, or ``None`` (with one logged
    warning per process) when this host cannot compile them."""
    jar, javac = _hadoop_api_jar(), _javac()
    if jar is None or javac is None:
        log.warning(
            "no javac or hadoop-client-api jar: keeping Hadoop's local file "
            "system, which forks chmod/readlink per checkpoint file"
        )
        return None
    with open(_SOURCE, "rb") as f:
        key = hashlib.sha256(f.read() + jar.encode()).hexdigest()[:16]
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    out = os.path.join(cache, "spark_graft", f"localfs-{key}")
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="localfs-", dir=os.path.dirname(out))
    except OSError as e:
        log.warning("no writable cache, keeping Hadoop's local file system: %s", e)
        return None
    try:
        # --release 17: Spark 4's minimum, so any newer javac's classes load.
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-cp", jar, "-d", tmp, _SOURCE],
            check=True, capture_output=True, text=True,
        )
    except subprocess.CalledProcessError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        log.warning(
            "javac failed, keeping Hadoop's local file system: %s", e.stderr.strip()
        )
        return None
    try:
        os.rename(tmp, out)
    except OSError:
        # another process renamed its build into place first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise
    return out
