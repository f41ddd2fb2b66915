"""stream: the message app, then the near-dup index stream, in one session.

The two share a run because each run pays ~13 s of JVM start and ~15 s
of first-trigger warm-up on 4 cores; apart they would not fit the
benchmark's time budget. The message half sets the latencies, the index
half the throughput (documents per second); total_s is the sum of both
halves' measured work.
"""

from __future__ import annotations

from perfbench import index, msg
from perfbench.harness import Run


def run(r: Run) -> None:
    state = {}

    def warm_up():
        state["msg"] = msg.start(r)

    # One set-up: a warm restart of four streaming queries costs ~10 s.
    r.setup(warm_up, reps=1)
    msg_s = msg.measure(r, *state["msg"])
    r.put("total_s", msg_s + index.run_part(r))
    r.put("trace.total_s", r.metrics["total_s"])
