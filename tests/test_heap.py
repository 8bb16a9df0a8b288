"""A Python worker keeps its heap between batches: a points batch after the
first faults in no fresh pages (glibc's thresholds are pinned when
``spark_shp`` is imported)."""

import pathlib
import platform
import subprocess
import sys

import numpy as np
import pytest

from spark_shp.shp import writer

ROOT = pathlib.Path(__file__).resolve().parents[1]

# one points batch of ingest.read_points_fast plus the tile ids and parent
# buckets of the checkpointed write, five times over, in a fresh interpreter
_PROBE = """
import resource, sys
sys.path.insert(0, sys.argv[1])
from spark_shp import cells, ingest
with open(sys.argv[2], "rb") as f:
    blob = f.read()
for _ in range(5):
    before = resource.getrusage(resource.RUSAGE_SELF).ru_minflt
    pdf = ingest._points_from_blob(blob, None, "pts")
    cells.cell_parent(cells.cell_encode(pdf["lon"].to_numpy(),
                                        pdf["lat"].to_numpy(), 12), 9)
    del pdf
    print(resource.getrusage(resource.RUSAGE_SELF).ru_minflt - before)
"""


@pytest.mark.skipif(platform.libc_ver()[0] != "glibc",
                    reason="the heap thresholds are pinned on glibc only")
def test_points_batches_reuse_the_heap(tmp_path):
    xy = np.random.default_rng(7).uniform(-170.0, 170.0, (100_000, 2))
    shp = tmp_path / "pts.shp"
    shp.write_bytes(writer.write_shp([(writer.POINT, (x, y))
                                      for x, y in xy.tolist()]))
    out = subprocess.run([sys.executable, "-c", _PROBE, str(ROOT), str(shp)],
                         capture_output=True, text=True, check=True).stdout
    faults = [int(v) for v in out.split()]
    assert len(faults) == 5
    # the first call grows the heap; later ones fault about 1,300 pages
    # each (the batch's ~5 MB) when the heap top is trimmed between calls
    assert all(f < 100 for f in faults[2:]), faults
