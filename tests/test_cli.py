"""Compat-CLI tests: the reference's -w / -r / -mr lifecycle
(``Client/client_v1.py:62``) against a temp DFS root."""

from __future__ import annotations

import glob
import os

import pytest

from map_reduce_framework_using_python_spark.catalog import FileCatalog
from map_reduce_framework_using_python_spark.cli import cmd_mapreduce, cmd_read, cmd_write

MAPPER = (
    "import sys\n"
    "for line in sys.stdin:\n"
    "    for w in line.strip().lower().split():\n"
    "        if w:\n"
    "            print(f'{w},1')\n"
)
REDUCER = (
    "import sys\n"
    "cur, cnt = None, 0\n"
    "for line in sys.stdin:\n"
    "    line = line.rstrip('\\n')\n"
    "    if not line: continue\n"
    "    k, v = line.split(',', 1)\n"
    "    if k != cur:\n"
    "        if cur is not None: print(f'{cur},{cnt}')\n"
    "        cur, cnt = k, 0\n"
    "    cnt += int(v)\n"
    "if cur is not None: print(f'{cur},{cnt}')\n"
)


def test_write_mapreduce_read_lifecycle(spark, tmp_path):
    root = str(tmp_path / "dfs")
    src = tmp_path / "input.txt"
    src.write_text("the quick brown fox\nthe lazy dog\nthe quick dog\n")
    mp, rp = tmp_path / "mapper.py", tmp_path / "reducer.py"
    mp.write_text(MAPPER)
    rp.write_text(REDUCER)

    name = cmd_write(str(src), root=root, n_partitions=6)
    assert name == "input.txt"
    # Padding invariant: 3 lines, 6 partition files.
    entry = FileCatalog(root).lookup(name)
    assert entry["n_partitions"] == 6
    assert len(glob.glob(os.path.join(entry["path"], "part-*"))) == 6

    out_name = cmd_mapreduce(str(mp), str(rp), name, root=root)
    assert out_name == "input-part-00000.txt"  # worker_v1.py:193 naming

    outdir = str(tmp_path / "out")
    out_path = cmd_read(out_name, outdir, root=root)
    counts = dict(
        line.split(",") for line in open(out_path).read().splitlines() if line
    )
    assert counts == {"the": "3", "quick": "2", "dog": "2", "brown": "1", "fox": "1", "lazy": "1"}


def test_read_missing_file_raises(tmp_path):
    with pytest.raises(KeyError, match="not in catalog"):
        cmd_read("ghost.txt", str(tmp_path), root=str(tmp_path / "dfs2"))


def test_write_read_roundtrip_is_byte_identical(tmp_path, spark):
    """Reference parity (r7 review): WRITE splits contiguously by line
    count and READ merges in part order, so the roundtrip returns the
    file with lines in the ORIGINAL order — the identity contract the
    reference's client keeps (client_v1.py:103-115, 164-176). The old
    repartition/size-packed path permuted lines and only sorted()
    comparisons hid it."""
    from map_reduce_framework_using_python_spark.cli import cmd_read, cmd_write

    src = tmp_path / "ordered.txt"
    lines = [f"line-{i:03d}" for i in range(40)]
    src.write_text("\n".join(lines) + "\n")
    root = str(tmp_path / "dfs")
    cmd_write(str(src), root=root, n_partitions=6)
    out = cmd_read("ordered.txt", str(tmp_path / "out"), root=root)
    assert open(out).read().splitlines() == lines
    # and the contiguous-split layout: part 0 holds the FIRST lines
    import os

    from map_reduce_framework_using_python_spark.catalog import FileCatalog

    path = FileCatalog(root).lookup("ordered.txt")["path"]
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert len(parts) == 6
    first = open(os.path.join(path, parts[0])).read().splitlines()
    assert first == lines[: len(first)]


def _parts(root, name):
    path = FileCatalog(root).lookup(name)["path"]
    return [
        open(os.path.join(path, f), "rb").read()
        for f in sorted(os.listdir(path))
        if f.startswith("part-")
    ]


@pytest.mark.parametrize(
    "data",
    [
        b"alpha beta\r\ngamma\r\n\r\ndelta\r\n",
        b"one\ntwo\nno final newline",
        b"",
        b"caf\xe9 latin-1\n\xff\xfe raw\nlone\rcarriage\n",
    ],
    ids=["crlf", "no-final-newline", "empty", "non-utf8"],
)
def test_write_read_roundtrip_keeps_raw_bytes(tmp_path, data):
    """WRITE splits raw bytes on ``\\n`` and READ concatenates the parts,
    so the roundtrip returns every input unchanged — line endings,
    a missing final newline and undecodable bytes included."""
    root = str(tmp_path / "dfs")
    src = tmp_path / "input.txt"
    src.write_bytes(data)
    cmd_write(str(src), root=root, n_partitions=3)
    parts = _parts(root, "input.txt")
    assert len(parts) == 3
    assert b"".join(parts) == data
    out = cmd_read("input.txt", str(tmp_path / "out"), root=root)
    assert open(out, "rb").read() == data
    assert os.listdir(tmp_path / "out") == ["input.txt"]  # no temp file left


@pytest.mark.parametrize("n_lines,n_parts", [(23, 6), (24, 6), (3, 6), (7, 1)])
def test_write_layout_is_contiguous(tmp_path, n_lines, n_parts):
    """Part i holds lines [i·ceil(n/N), (i+1)·ceil(n/N)); exactly N parts,
    the trailing ones empty when lines run out."""
    lines = [f"line-{i:03d}\n".encode() for i in range(n_lines)]
    src = tmp_path / "layout.txt"
    src.write_bytes(b"".join(lines))
    root = str(tmp_path / "dfs")
    cmd_write(str(src), root=root, n_partitions=n_parts)
    per = -(-n_lines // n_parts)
    assert _parts(root, "layout.txt") == [
        b"".join(lines[i * per:(i + 1) * per]) for i in range(n_parts)
    ]


def test_rewrite_replaces_layout_and_leaves_no_staging(tmp_path):
    root = str(tmp_path / "dfs")
    src = tmp_path / "again.txt"
    src.write_bytes(b"a\nb\nc\nd\n")
    cmd_write(str(src), root=root, n_partitions=4)
    src.write_bytes(b"x\n")
    cmd_write(str(src), root=root, n_partitions=2)
    assert _parts(root, "again.txt") == [b"x\n", b""]
    assert os.listdir(os.path.join(root, "store")) == ["again.txt"]


def test_read_entry_without_parts_raises(tmp_path, capsys, monkeypatch):
    """A catalog entry whose storage is missing or holds no part file is
    an error (exit 1 from ``main``), never an empty result file."""
    import functools

    from map_reduce_framework_using_python_spark import cli

    root = str(tmp_path / "dfs")
    catalog = FileCatalog(root)
    catalog.register("gone.txt", 4)
    os.makedirs(catalog.path_for("hollow.txt"))
    catalog.register("hollow.txt", 4)
    outdir = tmp_path / "out"
    for name in ("gone.txt", "hollow.txt"):
        with pytest.raises(FileNotFoundError, match="no stored parts"):
            cmd_read(name, str(outdir), root=root)
    assert not outdir.exists() or os.listdir(outdir) == []

    monkeypatch.setattr(cli, "cmd_read", functools.partial(cmd_read, root=root))
    assert cli.main(["-r", "hollow.txt", str(outdir)]) == 1
    assert "no stored parts" in capsys.readouterr().err


def test_write_and_read_start_no_spark(tmp_path):
    """WRITE and READ are client-side byte copies: running both through
    ``main`` in a fresh interpreter leaves no SparkContext behind."""
    import subprocess
    import sys

    src = tmp_path / "plain.txt"
    src.write_bytes(b"hello\nworld\n")
    code = (
        "import sys, pyspark\n"
        "from map_reduce_framework_using_python_spark import cli\n"
        f"assert cli.main(['-w', {str(src)!r}]) == 0\n"
        f"assert cli.main(['-r', 'plain.txt', {str(tmp_path / 'out')!r}]) == 0\n"
        "assert pyspark.SparkContext._active_spark_context is None\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DFS=str(tmp_path / "dfs"), PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    assert (tmp_path / "out" / "plain.txt").read_bytes() == b"hello\nworld\n"


def test_mapreduce_over_crlf_matches_lf(spark, tmp_path):
    """MAP-REDUCE reads the stored parts with Spark's line splitting, so
    a CRLF file counts the same words as its LF twin."""
    mp, rp = tmp_path / "mapper.py", tmp_path / "reducer.py"
    mp.write_text(MAPPER)
    rp.write_text(REDUCER)
    root = str(tmp_path / "dfs")
    text = "The cat sat\non the mat\nthe end\n"
    counts = {}
    for stem, data in (("lf", text.encode()), ("crlf", text.replace("\n", "\r\n").encode())):
        src = tmp_path / f"{stem}.txt"
        src.write_bytes(data)
        cmd_write(str(src), root=root, n_partitions=2)
        out = cmd_read(
            cmd_mapreduce(str(mp), str(rp), src.name, root=root), str(tmp_path / "out"), root=root
        )
        counts[stem] = sorted(open(out).read().splitlines())
    assert counts["crlf"] == counts["lf"]
    assert "the,3" in counts["lf"]


def test_failed_mapreduce_rerun_keeps_previous_result(spark, tmp_path):
    """A re-run whose mapper fails must raise and leave the earlier
    result readable byte-identically, with no staging directory left."""
    root = str(tmp_path / "dfs")
    src = tmp_path / "keep.txt"
    src.write_text("red green\nred blue\n")
    mp, rp, bad = (tmp_path / n for n in ("mapper.py", "reducer.py", "bad_mapper.py"))
    mp.write_text(MAPPER)
    rp.write_text(REDUCER)
    bad.write_text("import sys\nsys.exit(3)\n")
    cmd_write(str(src), root=root, n_partitions=2)
    result = cmd_mapreduce(str(mp), str(rp), "keep.txt", root=root)
    first = open(cmd_read(result, str(tmp_path / "a"), root=root), "rb").read()
    assert sorted(first.decode().splitlines()) == ["blue,1", "green,1", "red,2"]

    with pytest.raises(Exception):
        cmd_mapreduce(str(bad), str(rp), "keep.txt", root=root)
    again = open(cmd_read(result, str(tmp_path / "b"), root=root), "rb").read()
    assert again == first
    assert sorted(os.listdir(os.path.join(root, "store"))) == ["keep-part-00000.txt", "keep.txt"]
