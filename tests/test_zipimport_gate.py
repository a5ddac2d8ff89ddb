"""The worker-side zip-import gate (functions/zipimport_gate.py).

Each check runs in a fresh interpreter so the import machinery of the
test process is never patched.
"""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ re-reads zip archives lazily"
)


def _run(code: str, tmp_path) -> str:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_unchanged_archive_is_not_reread(tmp_path):
    """Repeated invalidate_caches() on an unchanged archive reads its
    directory 0 times; after the archive is rewritten with a new module,
    that module imports."""
    out = _run(
        f"""
        import importlib, sys, zipfile, zipimport
        from typhoon_ocr_spark.functions import zipimport_gate

        path = {str(tmp_path / "zpkg.zip")!r}
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/a.py", "X = 1")
        sys.path.insert(0, path)
        import zpkg.a

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)

        zipimport_gate.install()
        for _ in range(3):
            importlib.invalidate_caches()
        print(len(reads))

        with zipfile.ZipFile(path, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/a.py", "X = 1")
            z.writestr("zpkg/b.py", "Y = 2")
        importlib.invalidate_caches()
        import zpkg.b
        print(zpkg.b.Y, len(reads) > 0)
        """,
        tmp_path,
    )
    assert out.splitlines() == ["0", "2 True"]


def test_driver_import_leaves_import_machinery_alone(tmp_path):
    """Outside a task (no TaskContext) importing the engine's functions
    package installs nothing."""
    out = _run(
        """
        import sys, zipimport
        import typhoon_ocr_spark.functions
        print(zipimport.zipimporter in sys.path_hooks)
        """,
        tmp_path,
    )
    assert out == "True"
