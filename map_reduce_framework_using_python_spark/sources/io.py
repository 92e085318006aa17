"""IO layer: scans, sinks, and the testdata table loader.

Reference parity (SURVEY.md §2.A ops 1-2), for library callers holding
a DataFrame:

- WRITE (``Client/client_v1.py:75-142``: split text by line count into N
  partitions, pad empties) → :func:`write_text` with an explicit
  partition count. Spark's ``part-*`` file naming matches the
  reference's ``{name}-part-00000_{i}`` convention
  (``Worker/worker_v1.py:193``) natively.
- READ (``Client/client_v1.py:144-176``: gather all partitions) →
  :func:`read_text`; ``write_text(single_file=True)`` writes a
  ``coalesce(1)`` single-file gather without a driver-side collect.

The CLI's ``-w`` / ``-r`` verbs (``cli.py``) do not come through here:
like the reference's client they split and merge local files on the
client, byte for byte, with no Spark job.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; ``maxPartitionBytes`` (session.py) sizes scan splits
at 128 MiB so a 100 TB table becomes ~800k well-sized tasks, not
one-partition-per-worker like the reference (``masterhandler.py:24``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Driver-generated tables (TESTDATA.md / FIXTURES.md).
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


# events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
# generations (Spark's parquet reader rejects that type with
# [PARQUET_TYPE_ILLEGAL]) and TIMESTAMP(MICROS) in others. We read the
# physical INT64 directly and normalize to µs by the unit recorded in
# the parquet footer — for ns this is integer division, the same
# truncation DuckDB applies when casting TIMESTAMP_NS → TIMESTAMP, so
# oracle comparisons line up. One footer read on the driver decides the
# expression; the scan itself stays fully distributed (schema-on-read).
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _ts_unit(path: str) -> str:
    """Timestamp unit ('s'/'ns'/'us'/'ms') of events.ts per the parquet footer."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        names = [n for n in sorted(os.listdir(path)) if n.endswith(".parquet")]
        if not names:
            raise ValueError(f"no .parquet files under events directory {path!r}")
        path = os.path.join(path, names[0])
    return pq.read_schema(path).field("ts").type.unit


_TS_TO_MICROS = {"ns": "ts div 1000", "us": "ts", "ms": "ts * 1000", "s": "ts * 1000000"}


#: Resolved µs expression per (path, footer mtime) — the same economics
#: as _SCHEMA_CACHE below: without it every plan build touching events
#: pays a fresh pyarrow footer open/parse (r7 review).
_TS_EXPR_CACHE: dict[tuple[str, float], str] = {}


def _ts_micros_expr(path: str) -> str:
    """SQL expression normalizing events.ts to µs per the footer unit —
    the ONE resolver both the batch loader and the streaming reader use
    (r7 review: the streaming copy had dropped the explanatory
    ValueError wrapping). Cached per (path, footer mtime)."""
    key = (path, _footer_mtime(path))
    cached = _TS_EXPR_CACHE.get(key)
    if cached is not None:
        return cached
    unit = _ts_unit(path)
    try:
        expr = _TS_TO_MICROS[unit]
    except KeyError:
        raise ValueError(
            f"unsupported events.ts timestamp unit {unit!r} in {path!r}"
        ) from None
    _TS_EXPR_CACHE[key] = expr
    return expr


def _footer_mtime(path: str) -> float:
    """Modification time keying the schema cache (dir → newest file)."""
    if os.path.isdir(path):
        files = [os.path.join(path, n) for n in os.listdir(path)]
        return max((os.path.getmtime(f) for f in files), default=0.0)
    return os.path.getmtime(path)


#: Inferred parquet schema per (path, mtime) — schema inference launches
#: a footer-sampling Spark job on EVERY ``read.parquet`` call, so without
#: this cache each of the ~190 plan builds pays a metadata job per table
#: (and the driver contract says building a callable should launch no
#: job).  At 100 TB the same principle holds: pin the schema (catalog /
#: first read), don't re-sample thousands of footers per query.
_SCHEMA_CACHE: dict[tuple[str, float], T.StructType] = {}


def source_fingerprint(path: str) -> dict:
    """Cheap identity of a source parquet (size, mtime, footer row
    count) — the refresh-hazard guard every derived layout (ANN index,
    Z-order, partitioned events) stores in its manifest, so a testdata
    regeneration with the same cardinality still forces a rebuild."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".parquet")
        )
        return {
            "bytes": sum(os.path.getsize(f) for f in files),
            "mtime": max((os.path.getmtime(f) for f in files), default=0.0),
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        }
    return {
        "bytes": os.path.getsize(path),
        "mtime": os.path.getmtime(path),
        "rows": pq.ParquetFile(path).metadata.num_rows,
    }


# --------------------------------------------------------------------------
# Shared build-or-reuse machinery for derived layouts (ANN indexes,
# dedup indexes, Z-order, partitioned events). One definition of the
# robustness rules — corrupt manifest = stale, atomic fingerprint
# writes, full-path cache tags — because the r7 review found three
# hand-rolled copies that had already drifted (only one tolerated
# corrupt manifests; two keyed the cache on a colliding basename).
# --------------------------------------------------------------------------


def layout_cache_tag(sf_dir: str) -> str:
    """Cache-dir tag for a derived layout of ``sf_dir``: readable
    basename + md5 of the FULL normalized path, so two corpora that
    share a basename (.../a/sf0.1 vs .../b/sf0.1) never collide on one
    cache slot and thrash rebuilds."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    digest = hashlib.md5(norm.encode()).hexdigest()[:10]
    return f"{os.path.basename(norm) or 'default'}-{digest}"


def read_json_guarded(path: str) -> dict | None:
    """Manifest read that treats missing/truncated/corrupt as stale
    (None) — a crash mid-write must mean 'rebuild', never a permanent
    JSONDecodeError on every later call."""
    import json

    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def write_json_atomic(path: str, obj: dict) -> None:
    """temp + os.replace: a crash mid-dump must not leave a truncated
    manifest (the read side treats corrupt as stale, but a clean swap
    never creates the window at all)."""
    import json

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def ensure_fingerprinted_layout(path: str, meta_name: str, src: dict, build) -> str:
    """Build-or-reuse a derived layout whose builder writes its own
    ``meta_name`` JSON sidecar under ``path``: reuse when the stored
    ``src`` fingerprint matches, else run ``build(path)`` and stamp the
    fingerprint into the sidecar atomically."""
    meta_path = os.path.join(path, meta_name)
    have = read_json_guarded(meta_path)
    if have is not None and have.get("src") == src:
        return path
    build(path)
    meta = read_json_guarded(meta_path) or {}
    meta["src"] = src
    write_json_atomic(meta_path, meta)
    return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Parquet → pushdown/pruning apply."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        micros = _ts_micros_expr(path)
        return (
            spark.read.schema(_EVENTS_RAW_SCHEMA)
            .parquet(path)
            .withColumn(
                "ts",
                F.expr(f"cast(timestamp_micros({micros}) as timestamp_ntz)"),
            )
        )
    key = (path, _footer_mtime(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str, n_partitions: int | None = None) -> DataFrame:
    """Reference READ (op 2): line-delimited text → DataFrame[value: string].

    The reference's push-server/barrier/merge (``client_v1.py:37-57,164-176``)
    dissolve into the scan; partition count is decoupled from worker count.
    """
    df = spark.read.text(path)
    if n_partitions is not None:
        df = df.repartition(n_partitions)
    return df


def write_text(
    df: DataFrame,
    path: str,
    n_partitions: int | None = None,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    """Reference WRITE (op 1): store a line-text dataset in N partitions.

    ``n_partitions`` mirrors the reference's partitions==workers rule
    (``masterhandler.py:24``); ``single_file`` mirrors READ's merge-to-one
    output (``client_v1.py:172-176``). Empty-partition padding
    (``client_v1.py:102-109``) holds: with explicit ``n_partitions`` the
    RDD text sink writes exactly N part files even when rows < N (the
    DataFrame writer would skip empty partitions).

    The explicit-``n_partitions`` split is CONTIGUOUS in line order —
    part i holds lines [i·ceil(n/N), …), exactly the reference's
    ``split.bylinecount`` layout (``client_v1.py:103-115``) — so a
    WRITE→READ roundtrip returns the file byte-identically (r7 review:
    the old ``repartition`` round-robin silently permuted lines, which
    the reference never does). Costs one extra count job per write, as
    the reference's client also pays (it counts lines to size parts).
    Only ``mode='overwrite'`` is supported on this branch — the RDD
    text sink has no append/ignore semantics, so anything else raises
    instead of crashing mid-write or silently overwriting."""
    if single_file:
        df.coalesce(1).write.mode(mode).text(path)
        return
    if n_partitions is not None:
        if mode != "overwrite":
            raise ValueError(
                "write_text(n_partitions=...) supports only mode='overwrite' "
                f"(got {mode!r}): the partitioned RDD text sink cannot "
                "append or ignore"
            )
        import math
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        rdd = df.rdd.map(lambda row: row[0])
        n = rdd.count()
        per = max(1, math.ceil(n / n_partitions))
        (
            rdd.zipWithIndex()
            .map(lambda t: ((t[1] // per, t[1]), t[0]))
            .repartitionAndSortWithinPartitions(
                numPartitions=n_partitions, partitionFunc=lambda k: k[0]
            )
            .map(lambda t: t[1])
            .saveAsTextFile(path)
        )
        return
    df.write.mode(mode).text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Columnar sink (extension; the reference is text-only, SURVEY.md §2.A)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


#: Formats the generic table sink/source dispatches over (all built into
#: Spark — no extra jars; avro would need a package, so it's excluded).
FORMATS = ("parquet", "orc", "csv", "json")


def write_table_path(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Generic table sink: one dispatch point for every self-describing
    format. CSV gets ``header`` by default (it is not self-describing)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt == "csv":
        options.setdefault("header", "true")
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


def read_table_path(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
):
    """Generic table source twin of :func:`write_table_path`. Pass the
    schema for csv/json (schema-on-read beats inference: inference scans
    the data once just to guess, and guesses wrong on empty partitions)."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
    if fmt == "csv":
        options.setdefault("header", "true")
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)
