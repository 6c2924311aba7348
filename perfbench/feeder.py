"""Open-loop file feeder for the ``stream_steady`` workload.

Runs as its own process, separate from Spark.  It releases pre-generated
JSON-lines files from a staging directory into the stream's inbox on a
fixed schedule (file ``k`` is due at ``start + k * interval``) that does
not slow when the engine does.  Before release it overwrites each row's
``metadata.created_ms`` placeholder with the file's due time, so a row's
latency counts any wait a late release imposed.  A file becomes visible
atomically: it is written under a dot-name (hidden from Spark's file
listing) and renamed.

When every file is out it writes a JSON manifest
``[{"file", "rows", "due", "released"}, ...]`` (epoch seconds).

    python3 feeder.py STAGING INBOX START INTERVAL MANIFEST
"""

from __future__ import annotations

import json
import os
import sys
import time

# Placeholder in every pre-generated row, overwritten with its due time.
STAMP = '"created_ms":"0000000000000"'


def feed(staging: str, inbox: str, start: float, interval: float) -> list[dict]:
    placeholder = STAMP.encode()
    log = []
    for k, name in enumerate(sorted(os.listdir(staging))):
        with open(os.path.join(staging, name), "rb") as f:
            body = f.read()
        due = start + k * interval
        stamp = f'"created_ms":"{int(due * 1000):013d}"'.encode()
        body = body.replace(placeholder, stamp)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(inbox, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(inbox, name))
        log.append({"file": name, "rows": body.count(b"\n"), "due": due,
                    "released": time.time()})
    return log


def main(argv: list[str]) -> int:
    staging, inbox, start, interval, manifest = argv
    log = feed(staging, inbox, float(start), float(interval))
    with open(manifest + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(manifest + ".tmp", manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
