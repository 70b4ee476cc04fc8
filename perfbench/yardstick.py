"""A fixed piece of CPU work that measures how fast this machine runs
the benchmark right now.

The VM's vCPUs share their cores with other guests, and the CPU time a
fixed piece of work takes moves with the host's load: between runs a
few minutes apart the same queries took twice the CPU time, with no
steal to show for it.  The benchmark times this kernel in the same
process and seconds as the program's queries, and reports the
program's CPU times in units of it (README "Why reference time").

The kernel does what the serving path does: interpreter work on dicts,
lists and strings, small numpy calls, and gathers and sorts over a few
MB of arrays, which the queries run between two calls push out of the
caches.  It depends on nothing in the program, so a change to the
program cannot move it.
"""

from __future__ import annotations

import time

import numpy as np

#: CPU ms of one kernel call that count as one reference ms: about the
#: kernel's median, between queries, on this benchmark's 4-vCPU Xeon
#: (2.1 GHz) VM while its host was quiet (1.57-1.87 ms in four runs).
#: A fixed scale, so that reference times read as CPU milliseconds of
#: that machine.
REF_MS = 1.7

_rng = np.random.default_rng(12345)
#: 4 MB of postings-like data and a fixed random access order into it
_DATA = _rng.integers(0, 1 << 30, size=1 << 19, dtype=np.int64)
_IDX = _rng.integers(0, 1 << 19, size=1 << 14)
_WORDS = [f"w{i:05d}" for i in range(4096)]


def kernel() -> int:
    """One unit of work; returns a checksum so that nothing is skipped."""
    # interpreter: dict, string and list work
    counts: dict[str, int] = {}
    for i in range(1500):
        w = _WORDS[(i * 7919) & 4095]
        counts[w] = counts.get(w, 0) + len(w)
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    # small numpy calls, as per-segment evaluation makes them
    acc = 0
    x = np.arange(256, dtype=np.float64)
    for _ in range(40):
        x = np.cumsum(x[::-1]) % 997.0
        acc += int(np.searchsorted(x, 500.0))
    # gathers and a sort over a few MB
    g = _DATA[_IDX]
    acc += int(np.sort(g)[len(g) // 2] & 0xFFFF)
    acc += int(np.bincount(g & 1023, minlength=1024).argmax())
    return acc + len(top)


def cpu_ms() -> float:
    """CPU milliseconds of this process during one kernel call."""
    c = time.process_time()
    kernel()
    return 1000.0 * (time.process_time() - c)
