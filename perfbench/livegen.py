#!/usr/bin/env python3
"""Open-loop file publisher for ``warehouse_live``, run as its own process.

    python3 livegen.py <staging_dir> <source_root> <tick_s> <manifest>

``staging_dir`` holds ``log/`` and ``trade/`` files named in publish
order. Every ``tick_s`` seconds, on a schedule fixed at start that does
not slow when the system under test slows, the next file of each leg is
touched and renamed atomically into ``<source_root>/<leg>/``. On exit
the manifest gets one JSON line per file: leg, name, due and actual
publish time (epoch seconds).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(staging: str, source_root: str, tick_s: float, manifest: str) -> int:
    legs = {leg: sorted(os.listdir(os.path.join(staging, leg))) for leg in ("log", "trade")}
    n = max(len(v) for v in legs.values())
    records = []
    t0 = time.time()
    for i in range(n):
        due = t0 + i * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        for leg, names in legs.items():
            if i >= len(names):
                continue
            src = os.path.join(staging, leg, names[i])
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(source_root, leg, names[i]))
            records.append({"leg": leg, "name": names[i], "due": due, "at": time.time()})
    with open(manifest, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], float(sys.argv[3]), sys.argv[4]))
