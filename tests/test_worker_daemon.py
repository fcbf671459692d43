"""The worker daemon's fork preparation (``worker_daemon.prepare_fork``).

Each check runs in a fresh interpreter: the preparation patches
``zipimport`` and freezes the heap, which must not leak into the test
process.  No Spark session is started.
"""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_prepare_fork_rereads_a_zip_only_when_it_changed(tmp_path):
    _run(
        f"""
        import gc, importlib, sys, zipfile, zipimport

        archive = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("fms_zip_a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        import fms_zip_a

        from fuzzy_matching_spark.pipeline.worker_daemon import prepare_fork

        prepare_fork()

        reads = []
        read_directory = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = spy
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads == [], reads

        # a second module changes the archive's size: it must be re-read
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("fms_zip_a.py", "A = 1\\n")
            z.writestr("fms_zip_b.py", "B = 2\\n")
        importlib.invalidate_caches()
        assert reads == [archive], reads
        import fms_zip_b
        assert fms_zip_b.B == 2

        assert gc.get_freeze_count() > 0
        """
    )


def test_import_alone_patches_nothing():
    _run(
        """
        import gc, zipimport

        before = zipimport.zipimporter.invalidate_caches
        import fuzzy_matching_spark.pipeline.worker_daemon  # noqa: F401

        assert zipimport.zipimporter.invalidate_caches is before
        assert gc.get_freeze_count() == 0
        """
    )
