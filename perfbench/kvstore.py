"""A local, file-backed key-value store for the engine's ``kv_sink``.

``kv_sink`` calls the writer factory once per partition on an executor and
then ``put_batch(items)`` per batch. This store appends each batch to its own
JSON-lines file in a directory; the file name carries the publish sequence
number, so ``read_store`` can replay writes in order and keep the last value
per key, like an upsert into a real key-value table.
"""

from __future__ import annotations

import glob
import json
import os
import uuid


class FileKVWriterFactory:
    """Picklable factory: Python workers import this module by name."""

    def __init__(self, directory: str, sequence: int):
        self.directory = directory
        self.sequence = sequence

    def __call__(self):
        path = os.path.join(self.directory, f"{self.sequence:06d}-{uuid.uuid4().hex}.jsonl")

        def put_batch(items: list[dict]) -> None:
            with open(path, "a") as fh:
                for item in items:
                    fh.write(json.dumps(item, default=str, sort_keys=True) + "\n")

        return put_batch


def read_store(directory: str, key: str) -> dict[str, dict]:
    """The store's final state: the last written item per key."""
    state: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.jsonl"))):
        with open(path) as fh:
            for line in fh:
                item = json.loads(line)
                state[item[key]] = item
    return state
