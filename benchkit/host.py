"""Host context of a run, recorded beside the metrics and never folded into
them: CPU steal share, CPU and IO pressure (PSI) share, and a fixed
single-thread CPU probe (median of repeats) before and after the run.

A run whose probe moved by more than DRIFT_LIMIT between before and after
ran while the host changed speed; it is marked `host_steady: false`. The
mark changes no metric and no outcome: it tells a noisy set's runs apart."""
import statistics
import time

DRIFT_LIMIT = 0.25


def _probe_once():
    t = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def probe_ms(repeats=15):
    return statistics.median(_probe_once() for _ in range(repeats))


def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields)
    except OSError:
        return 0, 0


def _psi_total_us(kind):
    try:
        with open(f"/proc/pressure/{kind}") as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.split("total=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


class Context:
    def __init__(self):
        self.values = {"probe_before_ms": round(probe_ms(), 3)}
        self._steal, self._total = _cpu_ticks()
        self._psi = {k: _psi_total_us(k) for k in ("cpu", "io")}
        self._t = time.monotonic()

    def finish(self):
        wall_us = (time.monotonic() - self._t) * 1e6
        steal, total = _cpu_ticks()
        self.values["steal_share"] = round((steal - self._steal) / max(1, total - self._total), 5)
        for k, v in self._psi.items():
            self.values[f"psi_{k}_some_share"] = round((_psi_total_us(k) - v) / max(1.0, wall_us), 5)
        self.values["probe_after_ms"] = round(probe_ms(), 3)
        drift = self.values["probe_after_ms"] / self.values["probe_before_ms"] - 1
        self.values["probe_drift"] = round(drift, 4)
        self.values["host_steady"] = abs(drift) <= DRIFT_LIMIT
