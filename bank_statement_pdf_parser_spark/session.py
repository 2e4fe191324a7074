"""SparkSession factory with the engine's scale-oriented defaults,
plus the `--py-files` packaging seam (BASELINE.json north_rule: the job
ships as `spark-submit --py-files engine.zip`; `ensure_shipped` is the
programmatic equivalent so executor Python workers can always import
this package, whatever session created them)."""

from __future__ import annotations

import atexit
import functools
import os
import pathlib
import shutil
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
# this process's package archive (package_zip without dest_dir)
_PROCESS_ZIP: str | None = None


def per_jvm(build):
    """Memoize `build(*key)` (hashable args) per JVM gateway.

    Hot plan builders (normalize_records, with_resolved_payload,
    build_spans) return the same Column expressions on every call, but
    building one costs Py4J round trips: one per F.* call plus ~5 for
    PySpark 4's call-site capture. normalize_records' F1-F8 list alone
    was ~2.5k round trips and 0.35 s per call, paid per sink bucket
    group and per streaming micro-batch. A Column is an immutable JVM
    expression, valid in any plan of any session on its JVM, so the
    built value is reused until the gateway changes (a new JVM).
    Only repeated calls gain: a one-shot extract_all builds each list
    once either way. Never cache a Python-UDF Column: it binds its
    SparkContext."""
    memo: dict = {}

    @functools.wraps(build)
    def cached(*key):
        # no lock: threads racing on a key (the sink's pipeline slot)
        # build it twice, and either result is valid
        gateway = SparkContext._gateway
        hit = memo.get(key)
        if hit is None or hit[0] is not gateway:
            hit = memo[key] = (gateway, build(*key))
        return hit[1]
    return cached


def _containing_zip() -> str | None:
    """Path of the .zip archive this package was imported from (the
    `spark-submit --py-files engine.zip` deployment), else None.

    Under zipimport `__file__` is `<...>/engine.zip/<pkg>/session.py` —
    a path whose .zip component is a real file; `rglob` over such a
    path yields nothing, so `package_zip` must reuse the archive
    instead of building an empty one."""
    p = pathlib.Path(__file__).resolve()
    for parent in p.parents:
        if parent.suffix == ".zip" and parent.is_file():
            return str(parent)
    return None


def package_zip(dest_dir: str | None = None) -> str:
    """Zip this package for --py-files / addPyFile distribution.

    When the package is ALREADY running from a --py-files zip, returns
    that archive (it is, by construction, the package distribution).
    Without `dest_dir` the archive is built once per process in a
    temp dir that is removed at exit; every later call (one per new
    SparkContext, through ensure_shipped) reuses it."""
    global _PROCESS_ZIP
    existing = _containing_zip()
    if existing is not None:
        return existing
    if dest_dir is None:
        if _PROCESS_ZIP is None:
            tmp = tempfile.mkdtemp(prefix="bspp_pyfiles_")
            atexit.register(shutil.rmtree, tmp, ignore_errors=True)
            _PROCESS_ZIP = _write_package_zip(tmp)
        return _PROCESS_ZIP
    os.makedirs(dest_dir, exist_ok=True)
    return _write_package_zip(dest_dir)


def _write_package_zip(dest_dir: str) -> str:
    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(dest_dir, "bank_statement_pdf_parser_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted(pkg_dir.rglob("*.py")):
            z.write(f, arcname=str(
                pathlib.Path(pkg_dir.name) / f.relative_to(pkg_dir)))
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently distribute this package to executor Python workers."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    sc.addPyFile(package_zip())
    _SHIPPED.add(id(sc))


def get_spark(app: str = "bank-statement-extract", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cores:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.appName(app).master(master)
        # Arrow everywhere: the tokenizer/HTML UDFs are Arrow-batched.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Long documents: bound Arrow batch row-count so a batch of
        # multi-page statements stays well inside executor memory.
        # Round-7 A/B at sf1.0 (bench_extra, interleaved): 4096 is
        # ~5-8% less busy-CPU for the VECTORIZED tokenizer, 16384
        # worse; but the conf is session-wide and shared with
        # payload-heavy Arrow paths (multimodal blobs, long docs), so
        # the memory-safe default stays and the lever is an env knob
        # for deployments that know their row widths.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting for the record-level
        # shuffles that remain after the zero-shuffle extraction stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(e) > 0` under every
        # explode and predicate-pushdown then INLINES e's full defining
        # expression through the projects into the Filter/scan. For an
        # expensive array column (HOF pipelines like winnowing) the
        # inlined copy re-evaluates nested arrays per element — measured
        # O(len^2) per row, minutes instead of seconds. The rule only
        # skips empty-array rows early; excluding it is safe.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in extra.items():
        b = b.config(k, v)
    s = b.getOrCreate()
    ensure_shipped(s)
    return s
