"""Keep glibc from mmap()ing large allocations.

NumPy temporaries above glibc's mmap threshold (~128 KB) are mmap'd on
allocation and munmap'd on free, so every large temporary pays first-touch
page-fault cost again — on micro-VM hosts with slow on-demand paging this is
a 10-100x slowdown of the loess kernels.  Raising M_MMAP_THRESHOLD makes
glibc serve large blocks from the reusable heap.  Called once per process:
driver, benchmarks, and inside every Python UDF worker (see stl_udf.py).
"""
from __future__ import annotations

import ctypes

_M_MMAP_THRESHOLD = -3
_THRESHOLD = 1 << 30  # allocations below 1 GB come from the heap
_done = False


def tune_malloc() -> bool:
    global _done
    if _done:
        return True
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, _THRESHOLD)
        _done = True
        return True
    except Exception:
        return False
