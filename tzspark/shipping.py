"""Ship the tzspark package to executors at runtime.

The production launch is ``spark-submit --py-files tzspark.zip`` (north_rule);
this is the in-process equivalent for sessions the harness created before
importing us: zip the package once and ``addPyFile`` it, so executor Python
workers can import tzspark regardless of the driver's cwd or env.
Idempotent and cheap (~100 KB zip, cached)."""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

_SHIPPED = set()


def package_zip_path() -> str:
    """Build (once per source change) a --py-files-shaped zip of the tzspark
    package.

    One zip per checkout: it is named by a digest of the package dir's real
    path, so two checkouts never share a zip, and its comment holds a
    blake2b digest of the package's ``*.py`` names and bytes, so any source
    change rebuilds it in place, however the file mtimes compare."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    names = sorted(f for f in os.listdir(pkg_dir) if f.endswith(".py"))
    h = hashlib.blake2b(digest_size=8)
    sources = {}
    for f in names:
        with open(os.path.join(pkg_dir, f), "rb") as fh:
            sources[f] = fh.read()
        h.update(f.encode() + sources[f])
    digest = h.hexdigest().encode()
    tag = hashlib.blake2b(os.path.realpath(pkg_dir).encode(), digest_size=8).hexdigest()
    out = os.path.join(tempfile.gettempdir(), f"tzspark_pyfiles_{tag}.zip")
    try:
        with zipfile.ZipFile(out) as zf:
            if zf.comment == digest:
                return out
    except (OSError, zipfile.BadZipFile):
        pass
    tmp = out + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.comment = digest
        for f in names:
            zf.writestr(f"tzspark/{f}", sources[f])
    os.replace(tmp, out)
    return out


def ensure_shipped(spark) -> None:
    """addPyFile the package zip to this session (once per session)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    try:
        sc.addPyFile(package_zip_path())
    except Exception:
        pass  # e.g. file already registered under the same name
    _SHIPPED.add(key)
