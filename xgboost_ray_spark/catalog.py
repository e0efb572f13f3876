"""Table catalog over the driver-generated parquet testdata.

Loads the TPC-H-ish star schema + events / documents / embeddings tables
(see TESTDATA.md) and registers them as temp views. All reads go
through ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition-sized splits for free — at 100 TB these become real
parquet row-group skips, not driver-side filtering.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Repo-local scratch root for every file the engine writes (spills,
# layouts, stream sinks, the worker zip). Derived from this file's
# location so a relocated checkout keeps working; read only here, through
# scratch_path and sweep_scratch (tests/test_scratch_audit.py).
SCRATCH_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None
_SCRATCH_SEQ = itertools.count()
_SCRATCH_SWEPT = False


def scratch_path(tag: str) -> str:
    """A path no build has used before: ``<root>/<tag>_<n>``.

    The one way any code writes under ``SCRATCH_DIR``: spills, layout
    round trips, stream sinks with their checkpoints, CDC snapshots,
    example outputs and the worker zip all take a fresh path here and
    never overwrite it, so a frame built earlier keeps reading the files
    it listed however many later builds run. The root is one
    ``spill_<pid>_*`` dir per process under ``SCRATCH_DIR``, removed at
    exit; :func:`sweep_scratch` removes everything else found there.
    Safe to call from several threads: the counter is shared and the
    root is made once under a lock.
    """
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            os.makedirs(SCRATCH_DIR, exist_ok=True)
            _SCRATCH_ROOT = tempfile.mkdtemp(
                prefix=f"spill_{os.getpid()}_", dir=SCRATCH_DIR
            )
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        return os.path.join(_SCRATCH_ROOT, f"{tag}_{next(_SCRATCH_SEQ)}")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user
    return True


def sweep_scratch() -> int:
    """Remove every entry under ``SCRATCH_DIR`` except the roots of live
    processes; returns how many went.

    A ``spill_<pid>_*`` root whose pid is running belongs to a live
    session (this one, or a concurrent test/driver process) and stays.
    Everything else is garbage: roots of processes that were killed
    before their exit hook ran, and dirs that older layouts wrote at
    fixed names. Runs once per process, from ``registry.prepare_session``.
    """
    global _SCRATCH_SWEPT
    if _SCRATCH_SWEPT:
        return 0
    _SCRATCH_SWEPT = True
    try:
        entries = os.listdir(SCRATCH_DIR)
    except FileNotFoundError:
        return 0
    removed = 0
    for name in entries:
        kind, _, rest = name.partition("_")
        owner = rest.partition("_")[0]
        if kind == "spill" and owner.isdigit() and _pid_alive(int(owner)):
            continue
        shutil.rmtree(os.path.join(SCRATCH_DIR, name), ignore_errors=True)
        removed += 1
    return removed


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        return normalize_event_ts(df)
    return normalize_timestamps(df)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """The events reader contract: ``ts`` is a UTC TIMESTAMP after
    :func:`normalize_timestamps`, or the read fails.

    events.parquet stores ``ts`` as naive TIMESTAMP(MICROS). Spark rejects
    a TIMESTAMP(NANOS) file at read with PARQUET_TYPE_ILLEGAL, unless the
    session enables the legacy nanos-as-long parquet option: then ``ts``
    arrives as a bigint, which a timestamp cast would take as seconds, so
    any non-timestamp ``ts`` raises ``ValueError`` here. Shared by the
    batch catalog and the streaming reader."""
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if not isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
        raise ValueError(
            f"events column 'ts' must be a TIMESTAMP, found "
            f"{ts_type.simpleString()}"
        )
    return normalize_timestamps(df)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to UTC TIMESTAMP.

    The testdata parquet stores naive (isAdjustedToUTC=false) microsecond
    timestamps. The engine reads them as instants directly via
    ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (zero plan impact,
    full filter pushdown); this cast is the fallback for restricted sessions
    where that conf cannot be applied — value-preserving because the session
    timezone is pinned to UTC, and a no-op when the conf took effect."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table lazily. No data moves until an action runs."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for the SQL API."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
