"""The per-process input cache of the driver contract
(``__spark_entry__._cached_input``): one build per source-table identity,
a rebuild when the source file changes, and no directory left behind once
the process exits. No SparkSession needed."""

from __future__ import annotations

import os
import subprocess
import sys

import __spark_entry__ as ent

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source(tmp_path) -> str:
    # the key reads only the file's path, mtime and size
    (tmp_path / "documents.parquet").write_bytes(b"x")
    return str(tmp_path)


def test_cached_input_builds_once_per_source_identity(tmp_path):
    sf = _source(tmp_path)
    calls: list[str] = []

    def build(d: str) -> tuple[str, int]:
        calls.append(d)
        return d, len(calls)

    first = ent._cached_input("probe", sf, "documents", build)
    assert ent._cached_input("probe", sf, "documents", build) == first
    assert len(calls) == 1
    assert os.path.isdir(first[0])
    assert os.path.basename(first[0]).startswith("pyad2_probe_")

    # ``extra`` is part of the key
    ent._cached_input("probe", sf, "documents", build, "v2")
    assert len(calls) == 2

    # a rewritten source (new mtime) must not be served the old build
    src = os.path.join(sf, "documents.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    second = ent._cached_input("probe", sf, "documents", build)
    assert len(calls) == 3
    assert second[0] != first[0]
    assert ent._cached_input("probe", sf, "documents", build) == second


def test_cached_input_dir_removed_at_exit(tmp_path):
    sf = _source(tmp_path)
    code = (
        "import os\n"
        "import __spark_entry__ as ent\n"
        "def build(d):\n"
        "    with open(os.path.join(d, 'part'), 'w') as f:\n"
        "        f.write('x')\n"
        "    return d\n"
        f"print(ent._cached_input('probe', {sf!r}, 'documents', build))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, check=True,
    )
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("pyad2_probe_")
    assert not os.path.exists(d)
