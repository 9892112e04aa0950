"""Seeded, reference-shaped CDC corpus for the ingest workloads.

Every file is drawn in arrival order from one ``random.Random(seed)`` and
one pool of delivered keys, so a key delivered in a preloaded file can be
redelivered by any later file, and the same seed always gives the same
bytes.

Shape (the reference's change-capture CSV export):

- header ``Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents``;
- epoch-second timestamps; events carry ``{'$date': <epoch ms>}``;
- ``array_trackingEvents`` is a Python-repr list of dicts (single quotes,
  ``None``), 0-88 events per row, mean about 10;
- about 12% of rows redeliver an earlier key (the reference's 306,714
  distinct keys over 349,919 rows).

File names are ``YYYYMMDD-HHMMSSmmm.csv`` on a fixed-width clock that
advances with the file index, so lexical order equals arrival order for
any number of files (the pipeline's high-water mark relies on it).

The module also keeps the plain-Python model of what the targets must hold
after any prefix of the files: keep-last per key, one event row per event
and one null-event row for an empty array.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import random
from dataclasses import dataclass

HEADER = ["Op", "oid__id", "createdAt", "updatedAt", "lastSyncTracker", "array_trackingEvents"]
REDELIVERY = 0.1235  # 1 - 306_714 / 349_919
MAX_EVENTS = 88
BASE_EPOCH = 1_693_000_000  # 2023-08-25, the reference's era
FIRST_FILE = dt.datetime(2023, 9, 10, 13, 0, 0)
DESCRIPTIONS = [
    "Objeto postado",
    "Objeto em trânsito - por favor aguarde",
    "Objeto saiu para entrega ao destinatário",
    "A entrega não pode ser efetuada - endereço incorreto",
    "Objeto entregue ao\tdestinatário",
    "Objeto aguardando retirada no endereço indicado - prazo d'entrega",
    'Solicitação de "suspensão" da entrega',
    "Objeto encaminhado para a unidade de distribuição",
]
STATUSES = ["101", "23", "505", "77", None]


def file_name(index: int) -> str:
    """Arrival ``index`` → fixed-width timestamp name (10 min apart)."""
    t = FIRST_FILE + dt.timedelta(minutes=10 * index, milliseconds=index % 1000)
    return t.strftime("%Y%m%d-%H%M%S") + f"{t.microsecond // 1000:03d}.csv"


@dataclass
class Row:
    op: str
    key: str
    created: int
    updated: int
    last_sync: int
    events: list[dict]


@dataclass
class CsvFile:
    name: str
    rows: list[Row]
    data: bytes = b""


class Corpus:
    """The file sequence of one seed; :meth:`draw` appends the next files.

    Drawing more files never changes the ones already drawn, so a run can
    draw as it goes and still see the same files for the same seed."""

    def __init__(self, seed: int, rows_per_file: int):
        self.rows_per_file = rows_per_file
        self.files: list[CsvFile] = []
        self._rng = random.Random(seed)
        self._delivered: list[str] = []

    def draw(self, n: int = 1) -> list[CsvFile]:
        new = [self._file(len(self.files) + i) for i in range(n)]
        self.files.extend(new)
        return new

    def state(self, n_files: int) -> dict[str, Row]:
        """Key → its last delivery over the first ``n_files`` files."""
        last: dict[str, Row] = {}
        for f in self.files[:n_files]:
            for r in f.rows:
                last[r.key] = r
        return last

    def _file(self, index: int) -> CsvFile:
        rng = self._rng
        rows = []
        for _ in range(self.rows_per_file):
            if self._delivered and rng.random() < REDELIVERY:
                key = rng.choice(self._delivered)
            else:
                key = _hex32(rng)
                self._delivered.append(key)
            created = BASE_EPOCH + rng.randrange(0, 10_000_000)
            events = [
                {
                    "createdAt": {"$date": (created + k * 3600) * 1000 + rng.randrange(1000)},
                    "trackingCode": _hex32(rng),
                    "status": rng.choice(STATUSES),
                    "description": rng.choice(DESCRIPTIONS),
                    "trackerType": _hex32(rng),
                    "from": _hex32(rng),
                    "to": _hex32(rng),
                }
                for k in range(_n_events(rng))
            ]
            rows.append(
                Row(
                    "U" if rng.random() < 0.99 else "I",
                    key,
                    created,
                    created + rng.randrange(0, 1_000_000),
                    created + rng.randrange(0, 500_000),
                    events,
                )
            )
        return CsvFile(file_name(index), rows, _render(rows))


def batch_counts(rows: list[Row]) -> dict[str, int]:
    """What ``incremental_load`` must report merging for one batch of rows
    (keep-last within the batch; an empty array still yields one row)."""
    last = {r.key: r for r in rows}
    return {
        "tracking": len(last),
        "events": sum(max(1, len(r.events)) for r in last.values()),
    }


def _hex32(rng: random.Random) -> str:
    return f"{rng.getrandbits(128):032x}"


def _n_events(rng: random.Random) -> int:
    u = rng.random()
    if u < 0.04:
        return 0
    if u < 0.045:
        return MAX_EVENTS
    return min(MAX_EVENTS, 1 + int(rng.expovariate(1 / 9.0)))


def _render(rows: list[Row]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    for r in rows:
        w.writerow([r.op, r.key, r.created, r.updated, r.last_sync, repr(r.events)])
    return buf.getvalue().encode("utf-8")
