"""Build artifacts are never served stale: the package zip the ``sbs1``
source ships to Spark's Python workers, and the ``sbs1-jvm`` jar.
Neither test starts a Spark session."""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile
from types import SimpleNamespace

from dump1090_stream_parser_spark.sources import sbs1_jvm, sbs1_source


def test_shipped_zip_carries_current_sources(tmp_path, monkeypatch):
    """A zip built from other sources (another checkout, an older
    version) already sits in the temp dir; the zip that gets shipped
    must still carry the current sources/sbs1_source.py."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    member = "dump1090_stream_parser_spark/sources/sbs1_source.py"
    with zipfile.ZipFile(
        tmp_path / "dump1090_stream_parser_spark.zip", "w"
    ) as zf:
        zf.writestr(member, "# stale\n")

    shipped: list[str] = []
    sbs1_source._ship_package(
        SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    )

    assert len(shipped) == 1
    with open(sbs1_source.__file__, "rb") as f:
        current = f.read()
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.read(member) == current


def test_jar_rebuilt_on_input_content_not_mtime(tmp_path, monkeypatch):
    """Against a copy of java/: identical input bytes with a newer mtime
    (a fresh checkout) do not rebuild the jar; one changed byte does."""
    java = tmp_path / "java"
    shutil.copytree(
        sbs1_jvm._JAVA_DIR, java, ignore=shutil.ignore_patterns("build")
    )
    monkeypatch.setattr(sbs1_jvm, "_JAVA_DIR", str(java))
    builds: list = []
    monkeypatch.setattr(
        sbs1_jvm,
        "subprocess",
        SimpleNamespace(run=lambda *a, **kw: builds.append(a)),
    )
    src = java / "src" / "sbs1" / "Sbs1JvmSource.java"
    jar = java / "sbs1-jvm-source.jar"
    newer = os.path.getmtime(jar) + 3600
    os.utime(src, (newer, newer))

    assert sbs1_jvm.jvm_source_jar() == str(jar)
    assert builds == []

    src.write_bytes(src.read_bytes() + b" ")
    sbs1_jvm.jvm_source_jar()
    assert len(builds) == 1
    # the new stamp is written: the next call builds nothing
    sbs1_jvm.jvm_source_jar()
    assert len(builds) == 1
