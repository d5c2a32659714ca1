"""Session utilities."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

from tank_spark import cache


def memo_col(key, build):
    """Memoize an UNRESOLVED Column expression under ``key`` (r14,
    guide §7.3 planning cost / VERDICT r13 #6).

    py4j round-trips cost ~1 ms each on these VMs, and a single
    higher-order-function lambda (`transform`/`zip_with`/`aggregate`)
    costs ~30 ms of driver-side Column assembly — so builders that
    re-compose the same literal-quantizer/cosine expressions on every
    serve spend 0.3-1.4 s per query in PYTHON before Spark sees a
    plan. An unresolved Column is plan-independent and immutable
    (like the centroid literals): build it once per process, reference
    it from every plan — a session-cache entry with no fingerprint. Key
    on everything the expression closes over (column NAMES, dials, and
    the session applicationId when the expression embeds session-derived
    data)."""
    return cache.cached("util.col", key, build)


def local_values_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-list DataFrame as a JVM LocalRelation (VALUES literal).

    ``createDataFrame`` parallelizes even a handful of rows across
    defaultParallelism Python-RDD slices, so every broadcast build or
    union over the result schedules a multi-task job through a Python
    worker (~0.3-0.5 s each at local[32], per consumer). A VALUES
    LocalRelation is collected driver-side: zero tasks, and broadcast
    builds become LocalTableScan.

    Exactness: ints/bools/strings render as literals (strings with
    backslash + quote escaping); floats render via ``repr``, whose
    shortest-round-trip decimal parses back to the identical IEEE-754
    double (Java's parseDouble is correctly rounded, like the C strtod
    that produced the value). ``schema`` is the usual DDL string; every
    column is cast to its declared type."""
    from pyspark.sql import functions as F

    pairs = [c.strip().rsplit(" ", 1) for c in schema.split(",")]

    def lit(v) -> str:
        if hasattr(v, "item"):  # numpy scalar -> python scalar
            v = v.item()
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"

    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in pairs)
        return spark.sql(f"SELECT {sel}").where(F.lit(False))
    cols = ", ".join(
        f"CAST(col{i + 1} AS {t}) AS {n}" for i, (n, t) in enumerate(pairs))
    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT {cols} FROM (VALUES {vals})")


def ensure_workers_have_package(spark: SparkSession) -> None:
    """Ship tank_spark to Spark Python workers via addPyFile.

    Python-side kernels (applyInPandas / mapInPandas) are pickled by
    reference: workers import ``tank_spark.*`` at execution time. When the
    package is importable only through the driver's cwd (repo checkout,
    not pip-installed), worker processes cannot resolve it — observed as
    ``ModuleNotFoundError: tank_spark`` inside the kernel. Zipping the
    package once per session and ``addPyFile``-ing it makes every kernel
    location-independent. No-op after the first call per session.
    """
    sc = spark.sparkContext
    cache.cached("util.shipped", sc.applicationId, lambda: _ship(sc))


def _ship(sc) -> str:
    import tank_spark

    pkg_dir = os.path.dirname(tank_spark.__file__)
    zpath = os.path.join(tempfile.gettempdir(), f"tank_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "tank_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    return zpath
