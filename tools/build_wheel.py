"""Standards-compliant wheel builder with zero build-time deps.

Environments without the ``wheel`` package (setuptools < 70 cannot run
``bdist_wheel`` without it) and without network access still need a
distributable artifact (packaging parity: the reference ships dist/
wheels from its Poetry build). A wheel is just a zip laid out per
PEP 427: package files at the root plus a ``*.dist-info`` directory
with METADATA (PEP 566), WHEEL, entry_points.txt and a RECORD manifest
of (path, sha256=urlsafe-b64-digest, size). This builds exactly that
from pyproject.toml, byte-for-byte installable by pip.

Usage: python tools/build_wheel.py [OUT_DIR]
       →  OUT_DIR/<name>-<ver>-py3-none-any.whl (OUT_DIR defaults to dist/)

Validate (no network needed):
    pip install --no-deps --target /tmp/whl-smoke dist/*.whl
    PYTHONPATH=/tmp/whl-smoke python -c "import knetminer_etl_spark"
"""

from __future__ import annotations

import base64
import hashlib
import os
import sys
import tomllib
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "knetminer_etl_spark"


def _record_hash(data: bytes) -> str:
    digest = hashlib.sha256(data).digest()
    return "sha256=" + base64.urlsafe_b64encode(digest).rstrip(b"=").decode()


def _metadata(proj: dict) -> str:
    lines = [
        "Metadata-Version: 2.1",
        f"Name: {proj['name']}",
        f"Version: {proj['version']}",
        f"Summary: {proj['description']}",
        f"License: {proj['license']['text']}",
        f"Requires-Python: {proj['requires-python']}",
    ]
    for dep in proj.get("dependencies", []):
        lines.append(f"Requires-Dist: {dep}")
    for extra, deps in proj.get("optional-dependencies", {}).items():
        lines.append(f"Provides-Extra: {extra}")
        for dep in deps:
            lines.append(f'Requires-Dist: {dep} ; extra == "{extra}"')
    lines += ["Description-Content-Type: text/markdown", "", ""]
    with open(os.path.join(ROOT, "README.md"), encoding="utf-8") as fh:
        return "\n".join(lines) + fh.read()


def _entry_points(proj: dict) -> str:
    scripts = proj.get("scripts", {})
    if not scripts:
        return ""
    body = "\n".join(f"{name} = {target}" for name, target in scripts.items())
    return f"[console_scripts]\n{body}\n"


def build(out_dir: str | None = None) -> str:
    with open(os.path.join(ROOT, "pyproject.toml"), "rb") as fh:
        proj = tomllib.load(fh)["project"]
    dist_name = proj["name"].replace("-", "_")
    version = proj["version"]
    tag = "py3-none-any"
    dist_info = f"{dist_name}-{version}.dist-info"
    out_dir = out_dir or os.path.join(ROOT, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, f"{dist_name}-{version}-{tag}.whl")

    record: list[tuple[str, str, int]] = []
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:

        def add(arcname: str, data: bytes) -> None:
            # Fixed timestamp so identical sources produce identical wheel
            # bytes (zipfile stamps wall-clock time otherwise, which makes
            # every rebuild — e.g. tests/test_packaging.py under pytest —
            # dirty the committed artifact).
            info = zipfile.ZipInfo(arcname, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
            record.append((arcname, _record_hash(data), len(data)))

        pkg_root = os.path.join(ROOT, PACKAGE)
        for dirpath, dirnames, filenames in os.walk(pkg_root):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                path = os.path.join(dirpath, fn)
                arc = os.path.relpath(path, ROOT).replace(os.sep, "/")
                with open(path, "rb") as fh:
                    add(arc, fh.read())

        add(f"{dist_info}/METADATA", _metadata(proj).encode())
        add(
            f"{dist_info}/WHEEL",
            (
                "Wheel-Version: 1.0\n"
                "Generator: tools/build_wheel.py\n"
                "Root-Is-Purelib: true\n"
                f"Tag: {tag}\n"
            ).encode(),
        )
        eps = _entry_points(proj)
        if eps:
            add(f"{dist_info}/entry_points.txt", eps.encode())

        record_lines = [f"{p},{h},{n}" for p, h, n in record]
        record_lines.append(f"{dist_info}/RECORD,,")
        rec_info = zipfile.ZipInfo(
            f"{dist_info}/RECORD", date_time=(1980, 1, 1, 0, 0, 0)
        )
        rec_info.compress_type = zipfile.ZIP_DEFLATED
        rec_info.external_attr = 0o644 << 16
        zf.writestr(rec_info, "\n".join(record_lines) + "\n")

    return out_path


if __name__ == "__main__":
    path = build(sys.argv[1] if len(sys.argv) > 1 else None)
    print(path)
    sys.exit(0)
