"""Counting push endpoint for the ``s3_to_cc`` operation.

The push runs from Spark's Python workers, one call per record, so the
endpoint appends each payload as a JSON line to a per-process file under
its directory; the benchmark counts and reads the lines afterwards.
"""

from __future__ import annotations

import json
import os


class CountingEndpoint:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self, request: dict) -> dict:
        line = json.dumps(request["payload"], separators=(",", ":"),
                          sort_keys=True) + "\n"
        path = os.path.join(self.out_dir, f"{os.getpid()}.jsonl")
        with open(path, "a") as fh:
            fh.write(line)
        return {"status": 200}


def received(out_dir: str) -> list[dict]:
    """Every payload the endpoint has received under ``out_dir``."""
    out = []
    for name in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
        with open(os.path.join(out_dir, name)) as fh:
            out.extend(json.loads(line) for line in fh)
    return out
