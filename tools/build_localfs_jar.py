"""Rebuild the local-filesystem jar from its committed Java sources.

The engine's sessions put ``jvm/localfs.jar`` on the driver classpath
(``session.LOCALFS_JAR``). The jar is built from
``jvm/src/**/*.java`` with ``javac --release 17`` against the jars
pyspark bundles, and its manifest carries the SHA-256 of those sources
(``X-Sources-SHA256``); ``tests/test_localfs.py`` fails when the two
disagree, so an edit to the Java is not live until this is re-run::

    python tools/build_localfs_jar.py

The jar is reproducible: entries are sorted and carry a fixed
timestamp, so a rebuild from unchanged sources with the same JDK
writes the same bytes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from wikistream_event_data_pipeline_aws_spark.session import LOCALFS_JAR  # noqa: E402

SRC = os.path.join(os.path.dirname(LOCALFS_JAR), "src")
MANIFEST_KEY = "X-Sources-SHA256"
_EPOCH = (1980, 1, 1, 0, 0, 0)


def _sources() -> list[str]:
    return sorted(glob.glob(os.path.join(SRC, "**", "*.java"), recursive=True))


def sources_sha256() -> str:
    """SHA-256 over each source's path (relative to ``src``) and bytes."""
    h = hashlib.sha256()
    for path in _sources():
        h.update(os.path.relpath(path, SRC).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def manifest_sha256(jar: str = LOCALFS_JAR) -> str | None:
    """The sources hash stamped into ``jar``'s manifest, or None."""
    with zipfile.ZipFile(jar) as z:
        for line in z.read("META-INF/MANIFEST.MF").decode().splitlines():
            key, _, value = line.partition(": ")
            if key == MANIFEST_KEY:
                return value.strip()
    return None


def build(jar: str = LOCALFS_JAR) -> str:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-Xlint:all,-path", "-Werror", "-cp",
             os.path.join(jars, "*"), "-d", out, *_sources()],
            check=True,
        )
        manifest = f"Manifest-Version: 1.0\r\n{MANIFEST_KEY}: {sources_sha256()}\r\n\r\n"
        entries = {"META-INF/MANIFEST.MF": manifest.encode()}
        for path in sorted(glob.glob(os.path.join(out, "**", "*.class"), recursive=True)):
            with open(path, "rb") as f:
                entries[os.path.relpath(path, out)] = f.read()
    # a new file renamed into place: a running JVM keeps reading the old one
    staged = f"{jar}.tmp"
    with zipfile.ZipFile(staged, "w") as z:
        for name, data in entries.items():
            z.writestr(zipfile.ZipInfo(name, _EPOCH), data, zipfile.ZIP_DEFLATED)
    os.replace(staged, jar)
    return jar


if __name__ == "__main__":
    print(build())
