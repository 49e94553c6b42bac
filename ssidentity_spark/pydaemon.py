"""Python worker daemon for sessions built by ``session.get_spark``.

Spark starts its Python workers with its own archives first on
``sys.path``: ``pyspark.zip``, the py4j source zip and the spark-core jar
(5,359 entries, none of them Python). Every task calls
``importlib.invalidate_caches()``, which makes ``zipimport`` re-read the
central directory of each of those archives: 150-200 ms per task. This
module drops the archives and then runs Spark's stock daemon, so workers
import the same installed pyspark and py4j as the driver. When either is
importable only from the archives, ``sys.path`` stays as Spark built it.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.endswith(".jar") or (
        name.endswith(".zip") and name.startswith(("pyspark", "py4j"))
    )


def prune(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, in the same order; ``path`` itself
    when ``pyspark`` or ``py4j`` cannot be imported without them."""
    kept = [p for p in path if not _is_spark_archive(p)]
    for module in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(module, kept)
        if spec is None or spec.origin is None:  # absent, or a bare namespace
            return path
    return kept


if __name__ == "__main__":
    kept = prune(sys.path)
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
