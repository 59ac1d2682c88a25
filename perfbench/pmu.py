"""Instructions retired by this process and every process it starts.

One hardware counter (``perf_event_open``), opened on the calling thread
with ``inherit`` set before the JVM is launched: every thread and child
process created afterwards (the JVM, its Python workers) counts into it,
and a read returns the total of the whole tree, live and exited. User
space only, so it needs no privilege beyond ``perf_event_paranoid`` <= 2.

Why instructions: on a shared host the same work takes a different wall
and CPU time from minute to minute, because other tenants share the
physical cores (measured: the clock stays at ~4.2 GHz while the
instructions per cycle of a fixed loop halve). The number of
instructions the program executes for a piece of work does not depend on
that.
"""

from __future__ import annotations

import ctypes
import os
import platform
import struct

_NR_PERF_EVENT_OPEN = {"x86_64": 298, "aarch64": 241}
_PERF_TYPE_HARDWARE = 0
_PERF_COUNT_HW_INSTRUCTIONS = 1
_ATTR_SIZE = 112  # PERF_ATTR_SIZE_VER5
_INHERIT = 1 << 1
_EXCLUDE_KERNEL = 1 << 5
_EXCLUDE_HV = 1 << 6
_PERF_FLAG_FD_CLOEXEC = 1 << 3


class InstructionCounter:
    def __init__(self):
        nr = _NR_PERF_EVENT_OPEN.get(platform.machine())
        if nr is None:
            raise OSError(f"perf_event_open: unsupported machine {platform.machine()}")
        attr = bytearray(_ATTR_SIZE)
        struct.pack_into(
            "IIQQQQQ", attr, 0, _PERF_TYPE_HARDWARE, _ATTR_SIZE,
            _PERF_COUNT_HW_INSTRUCTIONS, 0, 0, 0,
            _INHERIT | _EXCLUDE_KERNEL | _EXCLUDE_HV,
        )
        libc = ctypes.CDLL(None, use_errno=True)
        buf = (ctypes.c_char * _ATTR_SIZE).from_buffer(attr)
        fd = libc.syscall(nr, buf, 0, -1, -1, _PERF_FLAG_FD_CLOEXEC)
        if fd < 0:
            err = ctypes.get_errno()
            raise OSError(err, f"perf_event_open (instructions): {os.strerror(err)}")
        self.fd = fd

    def read(self) -> int:
        return struct.unpack("Q", os.read(self.fd, 8))[0]

    def close(self) -> None:
        os.close(self.fd)
