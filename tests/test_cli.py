"""CLI entry point (C26 closure): ``python -m crawler_seo_spark``.

Mirrors the reference's argparse UX (main.py:231-341): validation errors
exit 1 before any engine work; a valid invocation crawls, prints a stats
JSON, and writes the report artifacts.
"""

import json
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])


def _run(args, timeout=300):
    return subprocess.run(
        [sys.executable, "-m", "crawler_seo_spark", *args],
        capture_output=True, text=True, timeout=timeout,
        cwd=REPO)


def test_invalid_url_exits_1():
    out = _run(["--url", "ftp://nope/", "--synthetic", "10"], timeout=60)
    assert out.returncode == 1
    assert "invalid seed URL" in out.stderr


def test_invalid_max_urls_exits_1():
    out = _run(["--max-urls", "0", "--synthetic", "10"], timeout=60)
    assert out.returncode == 1
    assert "max_urls" in out.stderr


def test_synthetic_quick_end_to_end(tmp_path):
    out = _run(["--synthetic", "60", "--max-urls", "25", "--quick",
                "--output", str(tmp_path), "--filename", "TEST",
                "--xlsx", "--cores", "4"])
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout[out.stdout.index("{"):])
    assert stats["urls_processed"] == 25
    assert stats["rounds"] >= 1
    report = tmp_path / "TEST"
    assert (report / "analise_completa").exists()
    assert (report / "resumo_executivo").exists()
    assert (report / "TEST.xlsx").exists()


def test_package_is_zip_importable(tmp_path):
    """spark-submit ships the package as a --py-files zip (scripts/
    submit.sh); every module must import from inside the archive — no
    __file__-relative data loads, no namespace-package surprises, and no
    module-level import of a module that no longer exists."""
    import zipfile
    from pathlib import Path

    zip_path = tmp_path / "crawler_seo_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in sorted((Path(REPO) / "crawler_seo_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO).as_posix())
    probe = (
        "import importlib, pkgutil, sys; sys.path.insert(0, sys.argv[1])\n"
        "import crawler_seo_spark\n"
        "assert 'crawler_seo_spark.zip' in crawler_seo_spark.__file__, "
        "crawler_seo_spark.__file__\n"
        "def fail(name): raise ImportError(name)\n"
        "names = [m.name for m in pkgutil.walk_packages(\n"
        "    crawler_seo_spark.__path__, 'crawler_seo_spark.', fail)]\n"
        "for name in names:\n"
        "    mod = importlib.import_module(name)\n"
        "    assert 'crawler_seo_spark.zip' in mod.__file__, mod.__file__\n"
        "assert 'crawler_seo_spark.engine' in names, names\n"
        "print('zip-import-ok', len(names))\n"
    )
    out = subprocess.run([sys.executable, "-c", probe, str(zip_path)],
                         capture_output=True, text=True, timeout=120,
                         cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr[-2000:]
    assert "zip-import-ok" in out.stdout
