"""Host-noise record: load average and the CPU steal share over a run.

Record only: nothing here skips, retries or discards a run.
"""

from __future__ import annotations

import os


def _cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    return [int(v) for v in fields[1:]] if fields and fields[0] == "cpu" else None


class HostNoise:
    """Snapshot at construction; ``summary()`` gives the shares since."""

    def __init__(self) -> None:
        self.load_start = list(os.getloadavg())
        self.cpu_start = _cpu_times()

    def summary(self) -> dict[str, object]:
        out: dict[str, object] = {
            "loadavg_start": self.load_start,
            "loadavg_end": list(os.getloadavg()),
        }
        end = _cpu_times()
        if self.cpu_start and end and len(end) > 7:
            delta = [b - a for a, b in zip(self.cpu_start, end)]
            total = sum(delta[:8]) or 1
            # /proc/stat cpu fields: user nice system idle iowait irq softirq steal
            out["steal_share"] = round(delta[7] / total, 4)
            out["idle_share"] = round((delta[3] + delta[4]) / total, 4)
        return out
