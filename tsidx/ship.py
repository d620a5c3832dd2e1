"""Ship the tsidx package to executors.

On a real cluster the jobs run as ``spark-submit --py-files tsidx.zip ...``
(see jobs/). For programmatic use (driver scripts, notebooks) this helper
makes the library self-shipping: it zips the installed package once per
session and registers it with ``SparkContext.addPyFile`` so Arrow-UDF task
closures can ``import tsidx`` on every executor regardless of the driver's
working directory.
"""

from __future__ import annotations

import os
import threading
import zipfile

from pyspark.sql import SparkSession

__all__ = ["ensure_shipped", "package_zip"]

_lock = threading.Lock()
_shipped_to = None  # the SparkContext the package was last registered with


def package_zip(dest_dir: str) -> str:
    """Write tsidx as an importable zip into *dest_dir*; returns the path.

    Deterministic content: files are added in sorted order with fixed
    timestamps, so repeated builds produce byte-identical artifacts.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(dest_dir, "tsidx.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(os.listdir(pkg_dir)):
            if not name.endswith(".py"):
                continue
            info = zipfile.ZipInfo(f"tsidx/{name}", date_time=(1980, 1, 1, 0, 0, 0))
            with open(os.path.join(pkg_dir, name), "rb") as f:
                zf.writestr(info, f.read())
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently register the tsidx package with the session's context:
    once per SparkContext, whichever thread asks (a Spark local property
    would be thread-local and ship once per thread)."""
    global _shipped_to
    sc = spark.sparkContext
    with _lock:
        if _shipped_to is sc:
            return
        import tempfile

        zip_path = package_zip(tempfile.mkdtemp(prefix="tsidx_ship_"))
        sc.addPyFile(zip_path)
        _shipped_to = sc
