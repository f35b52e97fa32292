"""Open-loop generator for ``wire_steady``: a process of its own that
writes one file of frames every ``STEADY_INTERVAL`` seconds, on a schedule
that does not slow down when the engine does.

The feed continues after the warm-up files the benchmark applied
itself (:func:`cdcbench.workloads.steady_feed`). Each file's frames are
stamped with the time the file was due, which is the creation time of
its events. The files due within ``--seconds`` are the timed ones; after
them the generator keeps writing trailing files on the same schedule
until the ``--stop`` file exists, so that the batch that reads the last
timed file finds the usual input around it. One JSON line per file goes
to ``--log``: file name, due time, write time, event count and whether
it is timed.

Run: python -m cdcbench.steady_gen --seed 1 --dir SRC --log LOG --seconds 15 --stop STOP
"""

from __future__ import annotations

import argparse
import json
import os
import time

from cdcbench.workloads import (
    STEADY_INTERVAL,
    steady_feed,
    steady_file,
    steady_timed_files,
    write_frames,
)

#: trailing files written at most, should the stop file never come
MAX_TRAILING = 120


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--stop", required=True)
    args = ap.parse_args()

    gen, _ = steady_feed(args.seed)
    start = time.time()
    n_timed = steady_timed_files(args.seconds)
    with open(args.log, "w") as log:
        for i in range(n_timed + MAX_TRAILING):
            fb = steady_file(gen)  # drawn ahead of its due time
            due = start + (i + 1) * STEADY_INTERVAL
            time.sleep(max(0.0, due - time.time()))
            if i >= n_timed and os.path.exists(args.stop):
                break
            name = f"f{i:05d}.parquet"
            write_frames(os.path.join(args.dir, name), fb, due)
            entry = {"file": name, "due": due, "written": time.time(),
                     "n": fb.n_events, "timed": i < n_timed}
            log.write(json.dumps(entry) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
