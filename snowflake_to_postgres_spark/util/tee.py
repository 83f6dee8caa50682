"""S15 (sf_migrate.py:28-46): mirror console output to a per-run log
file, ANSI-stripped — operational parity for the CLI verbs."""

from __future__ import annotations

import io
import re

_ANSI = re.compile(r"\x1b\[[0-9;]*[a-zA-Z]")


class TeeWriter(io.TextIOBase):
    def __init__(self, stream, logfile_path: str) -> None:
        self.stream = stream
        self.log = open(logfile_path, "a")

    def write(self, s: str) -> int:
        self.stream.write(s)
        self.log.write(_ANSI.sub("", s))
        return len(s)

    def flush(self) -> None:
        self.stream.flush()
        self.log.flush()

    def close(self) -> None:
        self.log.close()
