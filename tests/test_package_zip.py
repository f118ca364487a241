"""--py-files archive builder: contents, determinism, importability."""

import os
import sys
import zipfile

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

from xpshacl_spark.package import build_pyfiles_zip


def test_zip_contents_and_determinism(tmp_path):
    p1 = build_pyfiles_zip(str(tmp_path / "a.zip"))
    p2 = build_pyfiles_zip(str(tmp_path / "b.zip"))
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()  # reproducible archive

    names = set(zipfile.ZipFile(p1).namelist())
    for required in (
        "xpshacl_spark/__init__.py",
        "xpshacl_spark/compiler.py",
        "xpshacl_spark/runner.py",
        "xpshacl_spark/operators/profile.py",
        "xpshacl_spark/explain/signature.py",
    ):
        assert required in names, required
    assert not any(n.endswith((".pyc", ".pyo")) or "__pycache__" in n for n in names)
    # no stale copy of a removed module is packaged
    for gone in (
        "sample", "sessions", "packing", "ranges", "bucketing", "multimodal",
        "anomaly", "jpeg",
    ):
        assert f"xpshacl_spark/operators/{gone}.py" not in names, gone
    for gone in ("suggest", "report_diff"):
        assert f"xpshacl_spark/{gone}.py" not in names, gone


def test_zip_is_importable_via_zipimport(tmp_path):
    """The archive must work as a --py-files sys.path entry: import a
    leaf module from the zip in a clean subprocess (no repo on path)."""
    import subprocess

    p = build_pyfiles_zip(str(tmp_path / "c.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "sys.path = [q for q in sys.path if q != %r]; "
        "from xpshacl_spark.explain.signature import signature_hash; "
        "print('ok')" % (p, os.path.abspath(os.path.join(os.path.dirname(__file__), '..')))
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
