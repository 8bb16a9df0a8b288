"""spark_shp — from-scratch PySpark-native spatial-join + tiling engine.

Blueprint: SURVEY.md. Subsumes shapefile-js's decode semantics as a
vectorized Arrow ingest stage and builds an H3/S2-style cell-indexed spatial
engine (tile assignment, PIP joins, kNN, raster↔vector clip) on DataFrames.
"""

import ctypes
import os

__version__ = "0.1.0"

# glibc's mallopt parameter numbers (malloc.h)
_M_TRIM_THRESHOLD, _M_MMAP_THRESHOLD = -1, -3
# A Python worker runs one Arrow batch after another. Left alone, glibc sets
# its mmap threshold to the largest chunk freed so far (about 1.6 MB for a
# 100k-point batch's projection pairs) and trims the heap top above twice
# that, so every batch's ~5 MB peak went back to the OS and was faulted in
# again on the next batch. At 8 MiB a batch's arrays (the 4 MiB ray-cast
# intermediates included) stay in the heap for the next one, while a larger
# array (the driver's 1M-point columns) is still mmapped and returned on
# free; at 4 MiB the ray-cast intermediates would go back to mmap on
# every batch. A 32 MiB trim threshold keeps a batch's freed heap.
_MMAP_THRESHOLD = 8 << 20
_TRIM_THRESHOLD = 32 << 20


def _pin_heap_thresholds() -> bool:
    """Fix glibc's mmap and trim thresholds for this process (its forks
    inherit them). True when both took effect; a no-op giving False on any
    other C library."""
    try:
        if not (os.confstr("CS_GNU_LIBC_VERSION") or "").startswith("glibc"):
            return False
        mallopt = ctypes.CDLL(None).mallopt
    except (ValueError, OSError, AttributeError):
        return False
    mallopt.argtypes = [ctypes.c_int, ctypes.c_int]
    mallopt.restype = ctypes.c_int
    # mallopt returns 1 on success and 0 on a value it refuses
    return (mallopt(_M_MMAP_THRESHOLD, _MMAP_THRESHOLD) == 1
            and mallopt(_M_TRIM_THRESHOLD, _TRIM_THRESHOLD) == 1)


_pin_heap_thresholds()
