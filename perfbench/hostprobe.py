"""Host-speed probe, started by ``run.py`` as a child process for the
length of a run.

Every ``PERIOD`` seconds it times a fixed pure-Python loop in thread CPU
time and prints ``<unix time> <CPU seconds>`` on a line of its own. On a
shared host the CPU seconds that fixed work costs drift by up to 2x within
minutes (other tenants, turbo frequency); the loop's median cost over a
pass gives the host's speed during that pass. It uses about 5% of one
core. It exits when its output pipe closes or it is terminated.
"""

from __future__ import annotations

import sys
import time

LOOP = 50_000  # iterations, about 5 ms
PERIOD = 0.1


def loop_cpu_s(n: int = LOOP) -> float:
    """Thread CPU seconds of ``n`` iterations of a fixed loop."""
    t0 = time.thread_time()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.thread_time() - t0


def main() -> None:
    try:
        while True:
            print(f"{time.time():.3f} {loop_cpu_s():.7f}", flush=True)
            time.sleep(PERIOD)
    except (BrokenPipeError, KeyboardInterrupt):
        pass


if __name__ == "__main__":
    main()
