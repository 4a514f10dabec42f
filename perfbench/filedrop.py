"""File-drop load generator: NDJSON envelope files on a Poisson schedule.

Run as its own single-threaded process:

    python3 perfbench/filedrop.py --inbox DIR --stage DIR --seed N \
        --rate FILES_PER_S --lines N --bad-share 0.01 --log FILE

File ``k`` is due at ``start + sum of k exponential gaps``; the schedule
never waits for the system under test (an open loop). Each file is written
to ``--stage`` and renamed into ``--inbox``, so the ingest stream never
sees a partial file. Every record carries the file's due time as its
``event_ts``. For each file one JSON line goes to ``--log``:
``{"idx", "due", "written", "n", "bad"}``. The generator stops when its
stdin closes.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import select
import sys
import time

from records import drop_file_lines


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--inbox", required=True)
    p.add_argument("--stage", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True, help="files per second")
    p.add_argument("--lines", type=int, required=True, help="records per file")
    p.add_argument("--bad-share", type=float, required=True)
    p.add_argument("--log", required=True)
    args = p.parse_args()
    with open(args.log, "w", encoding="utf-8", buffering=1) as log:
        return drop_files(args, log)


def drop_files(args, log) -> int:
    gaps = random.Random(f"schedule-{args.seed}")
    due = time.time()
    idx = 0
    while True:
        due += gaps.expovariate(args.rate)
        wait = due - time.time()
        if wait > 0:
            ready, _, _ = select.select([sys.stdin], [], [], wait)
            if ready and not sys.stdin.buffer.read1(4096):
                return 0  # stdin closed: the workload is done
        lines, _, bad = drop_file_lines(args.seed, idx, args.lines, due, args.bad_share)
        name = f"drop-{idx:06d}.ndjson"
        staged = os.path.join(args.stage, name)
        with open(staged, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(staged, os.path.join(args.inbox, name))
        written = time.time()
        log.write(json.dumps({"idx": idx, "due": due, "written": written,
                              "n": len(lines), "bad": len(bad)}) + "\n")
        idx += 1


if __name__ == "__main__":
    sys.exit(main())
