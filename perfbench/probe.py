"""Host-speed probe. On a shared host the same code runs up to a third
slower for minutes at a time, as neighbours load the machine. The probe
runs a fixed CPU-bound unit of work over and over on a thread of the
front end while the driver runs, and records when each unit started and
ended. An operation's time divided by the probe's slowdown over the
same interval gives its time at nominal host speed, the figure the
end-to-end metrics report.

The probe lives outside the driver's JVM, so the driver's garbage
collection pauses and its own threads count against the operation, not
against the host. Both sides read the same monotonic clock.
"""
import threading
import time

UNIT_ITERS = 100_000
# how long one unit takes on an idle 4-core Xeon host with CPython 3.11;
# it sets only the scale of the normalized times
NOMINAL_UNIT_S = 0.0065


def unit():
    x = 0
    for j in range(UNIT_ITERS):
        x += j * j
    return x


class HostProbe(threading.Thread):
    """Runs probe units until stopped; `samples` holds (start_ns, end_ns)
    of each unit on the monotonic clock."""

    def __init__(self):
        super().__init__(name="host-probe", daemon=True)
        self.samples = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            t = time.monotonic_ns()
            unit()
            self.samples.append((t, time.monotonic_ns()))

    def stop(self):
        self._halt.set()
        self.join()


def slowdown(samples, t0, t1):
    """How many times slower than nominal the host ran over [t0, t1]:
    the interval's length over the nominal time of the probe units done
    in it (a unit cut by an end of the interval counts in part)."""
    units = 0.0
    for a, b in samples:
        overlap = min(b, t1) - max(a, t0)
        if overlap > 0 and b > a:
            units += overlap / (b - a)
    if units <= 0:
        raise ValueError("no probe samples over the interval")
    return (t1 - t0) / 1e9 / (units * NOMINAL_UNIT_S)
