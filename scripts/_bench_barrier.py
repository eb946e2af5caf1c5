"""File-barrier protocol for the process-model scaling control
(sort_contention_control.py): children signal
readiness after building their (untimed) input, the parent releases
all timed regions together, and a crashed child is detected instead of
hanging the poll loop forever."""

from __future__ import annotations

import os
import time

BARRIER_TIMEOUT_S = 300


def await_barrier(barrier: str) -> None:
    """Child side: signal input-built readiness, then block until the
    parent's go file appears — aligns every concurrent child's TIMED
    region so one child's input synthesis never overlaps another's
    measurement window."""
    open(os.path.join(barrier, f"ready-{os.getpid()}"), "w").close()
    go = os.path.join(barrier, "go")
    t0 = time.time()
    while not os.path.exists(go):
        if time.time() - t0 > BARRIER_TIMEOUT_S:
            raise RuntimeError("barrier timeout")
        time.sleep(0.05)


def release_when_ready(barrier: str, procs, n: int) -> None:
    """Parent side: wait for n ready files, then write the go file.
    Raises if any child exits before reporting ready (otherwise the
    poll would spin forever with the failure swallowed by DEVNULL)."""
    while len([f for f in os.listdir(barrier) if f.startswith("ready-")]) < n:
        for p in procs:
            if p.poll() is not None:
                raise RuntimeError(
                    f"bench child exited rc={p.returncode} before the "
                    "barrier; rerun the child without stderr redirection "
                    "to see why"
                )
        time.sleep(0.1)
    open(os.path.join(barrier, "go"), "w").close()
