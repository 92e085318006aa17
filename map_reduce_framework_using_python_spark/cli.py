"""Compat CLI — the reference's client, re-homed on Spark.

The reference's entire user surface is three CLI flags
(``Client/client_v1.py:62``, ``Readme.md:3-6``)::

    python client_v1.py -w  <path>                    # WRITE
    python client_v1.py -r  <file> <outdir>           # READ
    python client_v1.py -mr <mapper.py> <reducer.py> <file>

This module preserves that surface verbatim (plus long aliases) so a
reference user can switch by changing the program name::

    python -m map_reduce_framework_using_python_spark.cli -w data.txt
    python -m map_reduce_framework_using_python_spark.cli -r data.txt ./out
    python -m map_reduce_framework_using_python_spark.cli -mr mapper.py reducer.py data.txt

Semantics preserved: N-way partitioned text storage with empty-partition
padding, catalog registration, ``{name}-part-00000`` result naming for
MR outputs (``worker_v1.py:193``, ``masterhandler.py:173``), a wall-clock
"Time Elapsed" print (``client_v1.py:209,216-217``), and non-zero exit
with an error for a missing file (the HTTP-500 contract). The
master/worker processes themselves are gone — Spark is the cluster.

As in the reference, only MAP-REDUCE runs on the cluster. WRITE splits
the file by line count on the client (``client_v1.py:94-115``) and READ
merges the parts in part order there (``client_v1.py:172-176``): both
are byte copies that start no JVM and run no Spark job, so WRITE→READ
returns every input byte-identically (CRLF, no final newline, bytes
that are not UTF-8). WRITE and MAP-REDUCE build their storage
directory under a hidden name beside the final one and rename it into
place only once it is complete, so a failed run leaves the earlier data
of that name as it was.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import shutil
import sys
import time
import uuid

from map_reduce_framework_using_python_spark.catalog import DEFAULT_ROOT, FileCatalog

DEFAULT_PARTITIONS = int(os.environ.get("SPARK_GRAFT_WORKERS", "10"))


def _spark():
    from map_reduce_framework_using_python_spark.session import get_spark

    return get_spark(app_name="map_reduce_framework_using_python_spark_cli")


@contextlib.contextmanager
def _staged(dest: str):
    """Yield a hidden sibling of ``dest`` to build a storage directory
    in; swap it in for ``dest`` when the block succeeds. On failure the
    sibling is removed and ``dest`` keeps its earlier contents."""
    parent, base = os.path.split(dest)
    os.makedirs(parent, exist_ok=True)
    staging = os.path.join(parent, f".{base}.{uuid.uuid4().hex}")
    try:
        yield staging
        if os.path.exists(dest):
            # rename(2) cannot replace a non-empty directory: move the
            # old one aside, swap, then drop it.
            retired = staging + ".old"
            os.rename(dest, retired)
            os.rename(staging, dest)
            shutil.rmtree(retired)
        else:
            os.rename(staging, dest)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _count_lines(path: str) -> int:
    """``\\n``-terminated lines in ``path``, plus one for an
    unterminated tail, which Hadoop also reads as a line."""
    n, last = 0, b"\n"
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            n += chunk.count(b"\n")
            last = chunk[-1:]
    return n + (last != b"\n")


def cmd_write(path: str, root: str = DEFAULT_ROOT, n_partitions: int = DEFAULT_PARTITIONS) -> str:
    """WRITE: split a local text file into N partitions in the DFS root
    and register it (reference §3.1; partitions==workers via
    $SPARK_GRAFT_WORKERS, the info.txt analog).

    The split is the reference client's ``split.bylinecount``
    (``client_v1.py:94-115``), run on the raw bytes: part i holds lines
    ``[i·ceil(n/N), (i+1)·ceil(n/N))`` and parts past the last line are
    written empty (``client_v1.py:102-109``), so there are always exactly
    N ``part-*`` files. Lines end at ``\\n`` only, so a lone ``\\r`` never
    moves a part boundary and each part keeps its bytes unchanged;
    MAP-REDUCE still reads the parts with Spark's line splitting, which
    also breaks lines at ``\\r`` and ``\\r\\n``."""
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no such file: {path}")
    name = os.path.basename(path)
    catalog = FileCatalog(root)
    per = max(1, math.ceil(_count_lines(path) / n_partitions))
    # Write first, register on success — a failed write must not leave a
    # dangling catalog entry pointing at a missing path.
    with _staged(catalog.path_for(name)) as staging:
        os.makedirs(staging)
        with open(path, "rb") as src:
            for i in range(n_partitions):
                with open(os.path.join(staging, f"part-{i:05d}"), "wb") as part:
                    part.writelines(itertools.islice(src, per))
    catalog.register(name, n_partitions)
    return name


def cmd_read(name: str, outdir: str, root: str = DEFAULT_ROOT) -> str:
    """READ: gather a stored file's partitions into ``<outdir>/<name>``
    (reference §3.2): the ``part-*`` files are concatenated byte for byte
    in part order, the reference's manifest-ordered ``filesplit.Merge``
    (``client_v1.py:164-176``), so WRITE→READ returns the original file.
    The merge goes to a temporary file in ``outdir`` that replaces
    ``<outdir>/<name>`` only when complete. An entry whose storage holds
    no ``part-*`` file raises ``FileNotFoundError`` rather than yielding
    an empty file."""
    store = FileCatalog(root).lookup(name)["path"]
    try:
        parts = sorted(f for f in os.listdir(store) if f.startswith("part-"))
    except FileNotFoundError:
        parts = []
    if not parts:
        raise FileNotFoundError(f"no stored parts for {name!r} under {store}")
    os.makedirs(outdir, exist_ok=True)
    out_path = os.path.join(outdir, name)
    tmp = os.path.join(outdir, f".{name}.{uuid.uuid4().hex}")
    try:
        with open(tmp, "xb") as out:
            for part in parts:
                with open(os.path.join(store, part), "rb") as fh:
                    shutil.copyfileobj(fh, out)
        os.replace(tmp, out_path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return out_path


def cmd_mapreduce(
    mapper_path: str, reducer_path: str, name: str, root: str = DEFAULT_ROOT
) -> str:
    """MAP-REDUCE: run user mapper/reducer sources over a stored file,
    store + register the result as ``{name}-part-00000.{ext}``
    (reference §3.3). This is the CLI's only Spark job. A failed job
    leaves an earlier result of the same name in place."""
    catalog = FileCatalog(root)
    entry = catalog.lookup(name)
    with open(mapper_path) as fh:
        mapper_src = fh.read()
    with open(reducer_path) as fh:
        reducer_src = fh.read()
    from map_reduce_framework_using_python_spark.mr.job import MRJob

    spark = _spark()
    job = MRJob(spark, mapper_src, reducer_src, n_partitions=entry["n_partitions"])
    stem, ext = os.path.splitext(name)
    out_name = f"{stem}-part-00000{ext}"
    with _staged(catalog.path_for(out_name)) as staging:
        job.save(spark.read.text(entry["path"]), staging)
    catalog.register(out_name, entry["n_partitions"])
    return out_name


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    t0 = time.time()
    try:
        if not argv:
            raise SystemExit(__doc__)
        flag, args = argv[0], argv[1:]
        if flag in ("-w", "--write"):
            print(f"stored: {cmd_write(args[0])}")
        elif flag in ("-r", "--read"):
            print(f"read to: {cmd_read(args[0], args[1])}")
        elif flag in ("-mr", "--mapreduce"):
            out = cmd_mapreduce(args[0], args[1], args[2])
            print(f"result file: {out} (fetch with -r {out} <outdir>)")
        elif flag in ("-ls", "--list"):
            for n in FileCatalog().names():
                print(n)
        else:
            print(f"unknown flag: {flag}", file=sys.stderr)
            return 2
    except (FileNotFoundError, KeyError, IndexError) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        # The reference's only instrumentation (client_v1.py:209,216-217).
        print(f"Time Elapsed: {time.time() - t0:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
