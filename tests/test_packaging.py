"""Packaging metadata sanity: pyproject parses, the console-script target
exists, and declared packages match the on-disk tree (parity with the
reference's installable-package contract, ref pyproject.toml:1-35)."""

import importlib
import pathlib
import tomllib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _meta() -> dict:
    return tomllib.loads((ROOT / "pyproject.toml").read_text())


def test_pyproject_parses_and_names_the_package():
    meta = _meta()
    assert meta["project"]["name"] == "knetminer-etl-spark"
    import knetminer_etl_spark as pkg

    assert meta["project"]["version"] == pkg.__version__


def test_console_script_target_importable():
    meta = _meta()
    for target in meta["project"]["scripts"].values():
        mod, func = target.split(":")
        assert callable(getattr(importlib.import_module(mod), func))


def test_runtime_deps_are_importable():
    # the declared runtime deps must all resolve in the dev environment
    # (pyyaml is degradable in code but still declared)
    for dep in _meta()["project"]["dependencies"]:
        name = dep.split(">")[0].split("<")[0].split("=")[0].strip()
        importlib.import_module({"pyyaml": "yaml"}.get(name, name))


def test_integration_marker_registered():
    markers = _meta()["tool"]["pytest"]["ini_options"]["markers"]
    assert any(m.startswith("integration") for m in markers)


def test_fallback_wheel_builder_produces_installable_artifact(tmp_path):
    """tools/build_wheel.py (the no-build-deps PEP 427 builder used
    where the wheel package/network are absent) must produce an
    artifact pip accepts: install it with --no-index into a scratch
    target and import the package from there. It builds into tmp_path,
    so the committed dist/ wheel is never rewritten by a test run."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(__file__))
    out = subprocess.run(
        [
            sys.executable, os.path.join(root, "tools", "build_wheel.py"),
            str(tmp_path / "dist"),
        ],
        capture_output=True,
        text=True,
        check=True,
    )
    whl = out.stdout.strip().splitlines()[-1]
    assert whl.endswith("-py3-none-any.whl") and os.path.exists(whl)
    assert os.path.dirname(whl) == str(tmp_path / "dist")
    target = tmp_path / "site"
    subprocess.run(
        [
            sys.executable, "-m", "pip", "install", "--quiet", "--no-deps",
            "--no-index", "--target", str(target), whl,
        ],
        check=True,
    )
    probe = subprocess.run(
        [
            sys.executable, "-c",
            "import knetminer_etl_spark as k; print(k.__file__)",
        ],
        env={"PYTHONPATH": str(target), "PATH": os.environ.get("PATH", "")},
        cwd=str(tmp_path),  # keep the repo checkout off sys.path
        capture_output=True,
        text=True,
        check=True,
    )
    assert str(target) in probe.stdout
