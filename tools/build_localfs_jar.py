"""Build the engine's local-filesystem jar from its committed Java sources.

Usage:
    python tools/build_localfs_jar.py

Compiles ``dateng_data_lakes_apache_spark_spark/jvm/src/**/*.java`` with
the local ``javac --release 17`` against the ``hadoop-client-api`` jar
bundled with pyspark, and writes
``dateng_data_lakes_apache_spark_spark/jvm/dateng-localfs.jar``. The jar
manifest records the SHA-256 of the sources (``Source-SHA-256``), so a
test can tell when the committed jar was built from other sources
(``tests/test_localfs.py``). Entry dates are fixed, so the same sources
and compiler give the same bytes. Needs no network.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "dateng_data_lakes_apache_spark_spark", "jvm")
SRC_DIR = os.path.join(JVM_DIR, "src")
JAR = os.path.join(JVM_DIR, "dateng-localfs.jar")
DIGEST_KEY = "Source-SHA-256"
#: Any fixed date in the zip range: entries carry no build time.
_ENTRY_DATE = (2000, 1, 1, 0, 0, 0)


def sources() -> list[str]:
    """The Java sources, as paths relative to ``SRC_DIR``, sorted."""
    paths = glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True)
    return sorted(os.path.relpath(p, SRC_DIR).replace(os.sep, "/") for p in paths)


def sources_digest() -> str:
    """SHA-256 over each source's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for rel in sources():
        with open(os.path.join(SRC_DIR, rel), "rb") as fh:
            body = fh.read()
        h.update(f"{rel}\0{len(body)}\0".encode())
        h.update(body)
    return h.hexdigest()


def recorded_digest(jar: str = JAR) -> str | None:
    """The ``Source-SHA-256`` a built jar's manifest records."""
    with zipfile.ZipFile(jar) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_KEY:
            return value.strip()
    return None


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise SystemExit(f"expected one bundled hadoop-client-api jar, found {jars}")
    return jars[0]


def _entry(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name, date_time=_ENTRY_DATE)
    info.compress_type = zipfile.ZIP_DEFLATED
    info.external_attr = 0o644 << 16
    return info


def build(jar: str = JAR) -> None:
    api = hadoop_api_jar()
    javac = subprocess.run(["javac", "-version"], capture_output=True, text=True, check=True)
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", api, "-d", classes]
            + [os.path.join(SRC_DIR, rel) for rel in sources()],
            check=True,
        )
        manifest = (
            "Manifest-Version: 1.0\r\n"
            f"{DIGEST_KEY}: {sources_digest()}\r\n"
            f"Built-With: {(javac.stdout or javac.stderr).strip()} --release 17\r\n"
            f"Built-Against: {os.path.basename(api)}\r\n\r\n"
        )
        built = sorted(
            os.path.relpath(p, classes).replace(os.sep, "/")
            for p in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        )
        # Replace, never rewrite in place: a running JVM reads classes
        # lazily from the jar it opened.
        tmp = f"{jar}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr(_entry("META-INF/MANIFEST.MF"), manifest)
            for rel in built:
                with open(os.path.join(classes, rel), "rb") as fh:
                    zf.writestr(_entry(rel), fh.read())
        os.replace(tmp, jar)
    print(f"wrote {jar}: {len(built)} classes, {os.path.getsize(jar)} bytes")


if __name__ == "__main__":
    build()
