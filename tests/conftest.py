from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast session startup in tests

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from politician_etl_project_spark.session import get_spark

    spark = get_spark("pytest")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


def run_in_package_copy(tmp_path: Path, code: str, edit=None) -> str:
    """Copy the engine package under ``tmp_path``, apply ``edit(pkg_dir)``
    and run ``code`` in a fresh interpreter that imports the copy;
    returns its stdout.  A fresh process, because the engine reads its
    own source once per process."""
    import shutil
    import subprocess

    root = tmp_path / "pkgcopy"
    pkg = root / "politician_etl_project_spark"
    shutil.copytree(
        REPO_ROOT / "politician_etl_project_spark", pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    if edit is not None:
        edit(pkg)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env={**os.environ, "PYTHONPATH": str(root)},
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip()
