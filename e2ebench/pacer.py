"""Open-loop tick generator for the ``sma_paced`` workload.

Runs as its own process so it keeps its schedule whatever the stream does.
File ``i`` is due at ``start + i`` seconds (wall clock); at its due time the
generator renames it from the staging directory into the watched input
directory. The files are rendered beforehand, so a rename is all it does.
It prints one JSON line: how late each rename ran, in milliseconds.

Usage: python3 pacer.py STAGING_DIR INPUT_DIR START_EPOCH_S NAME [NAME ...]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    staging, target, start = argv[0], argv[1], float(argv[2])
    lags = []
    for i, name in enumerate(argv[3:]):
        due = start + i
        while (wait := due - time.time()) > 0:
            time.sleep(min(wait, 0.05) if wait < 0.1 else wait - 0.05)
        os.rename(os.path.join(staging, name), os.path.join(target, name))
        lags.append((time.time() - due) * 1000.0)
    print(json.dumps({"lag_ms": lags}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
