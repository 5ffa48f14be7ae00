"""The ClickHouse stand-in the benchmark loads into.

It is the repo's in-process protocol fake (`tests/clickhouse_fake.py`)
with one change: INSERT bodies are inflated and their rows counted by the
server itself, but not stored, so a long run does not hold every row in
memory. Counts are kept per `batch_id` (the last CSV field the sink
appends), so the sink's exactly-once reset (`DROP PARTITION`, or `DELETE
WHERE batch_id` as its fallback) takes the batch's rows back out. The
counts are what the correctness checks trust — never the sink's own
return value.
"""

from __future__ import annotations

import re
import urllib.parse
from collections import defaultdict

from tests.clickhouse_fake import FakeClickHouse

_INSERT = re.compile(r"INSERT\s+INTO\s+(\w+)(?:\s+FORMAT\s+(\w+))?", re.I)
_RESET = re.compile(
    r"ALTER\s+TABLE\s+(\w+)\s+(?:DROP\s+PARTITION|DELETE\s+WHERE\s+batch_id\s*=)"
    r"\s*(\S+?)(?:\s+SETTINGS.*)?$", re.I | re.S)


class CountingClickHouse(FakeClickHouse):
    def __init__(self):
        super().__init__()  # not lite: handle() inflates gzip bodies
        self.inserts: dict[str, int] = defaultdict(int)
        self.accepted: dict[str, int] = defaultdict(int)
        self.bytes_raw: dict[str, int] = defaultdict(int)
        self.bytes_gz: dict[str, int] = defaultdict(int)
        #: comma count per table: rows x (fields - 1) when every row is whole
        self.commas: dict[str, int] = defaultdict(int)
        #: (table, batch_id) -> [rows, commas] the table holds for the batch
        self.batches: dict[tuple[str, str], list[int]] = defaultdict(
            lambda: [0, 0])

    def handle(self, req):
        if req.headers.get("Content-Encoding") == "gzip":
            query = urllib.parse.parse_qs(
                urllib.parse.urlparse(req.path).query).get("query", [""])[0]
            m = _INSERT.match(query)
            with self.lock:
                self.bytes_gz[m.group(1) if m else ""] += int(
                    req.headers.get("Content-Length") or 0)
        return super().handle(req)

    def execute(self, query, data, token=None, raw_gzip=False):
        m = _INSERT.match(query)
        if m is None:
            status, body = super().execute(query, data, token=token,
                                           raw_gzip=raw_gzip)
            reset = _RESET.match(query)
            if reset is not None and status == 200:
                name, batch = reset.group(1), reset.group(2).strip("'\"")
                with self.lock:
                    rows, commas = self.batches.pop((name, batch), (0, 0))
                    self.row_counts[name] = self.row_counts.get(name, 0) - rows
                    self.commas[name] -= commas
            return status, body
        name, fmt = m.group(1), (m.group(2) or "CSV").upper()
        if fmt != "CSV":
            return 500, f"unsupported FORMAT {fmt}".encode()
        per_batch: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        for line in data.splitlines():
            if line:
                counts = per_batch[line.rsplit(b",", 1)[-1].decode()]
                counts[0] += 1
                counts[1] += line.count(b",")
        with self.lock:
            self.inserts[name] += 1
            if name not in self.tables:
                return 500, f"Code: 60. Table {name} does not exist".encode()
            if token is not None:
                if token in self.tokens_seen:
                    self.duplicate_inserts_dropped += 1
                    return 200, b""
                self.tokens_seen.add(token)
            self.accepted[name] += 1
            self.bytes_raw[name] += len(data)
            for batch, (rows, commas) in per_batch.items():
                held = self.batches[(name, batch)]
                held[0] += rows
                held[1] += commas
                self.row_counts[name] = self.row_counts.get(name, 0) + rows
                self.commas[name] += commas
        return 200, b""
