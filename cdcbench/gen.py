"""Seeded Synapse Link change-folder generator with a dict oracle.

Writes the export layout the engine's source reads:

    <root>/model.json
    <root>/Changelog/changelog.info     # newest complete folder
    <root>/<yyyy-MM-ddTHH.mm.ssZ>/model.json
    <root>/<yyyy-MM-ddTHH.mm.ssZ>/<entity>/data.csv

Rows use the 25-column ``dimensionattributelevelvalue`` shape, with the
US-12h, ISO-Z and ISO-offset timestamp formats and sparse delete rows.
Every row draws a fresh, higher ``versionnumber`` from one counter, except
stale re-uploads, which repeat a key's older version and must never win.

The oracle is a plain dict of live keys to their latest version (a
deleted key is absent); ``checksum`` gives the row count and the sum of
``crc32("<Id>:<versionnumber>")`` over live keys, which the benchmark
compares with the same aggregate computed by Spark over the target.
"""

from __future__ import annotations

import json
import os
import random
import zlib
from datetime import datetime, timedelta

ENTITY = "dimensionattributelevelvalue"

COLUMNS = [
    ("Id", "guid"),
    ("SinkCreatedOn", "dateTime"),
    ("SinkModifiedOn", "dateTime"),
    ("sysdatastatecode", "int64"),
    ("dimensionattributevalue", "int64"),
    ("dimensionattributevaluegroup", "int64"),
    ("displayvalue", "string"),
    ("ordinal", "int64"),
    ("backingrecorddataareaid", "string"),
    ("modifieddatetime", "dateTime"),
    ("modifiedby", "string"),
    ("modifiedtransactionid", "int64"),
    ("createddatetime", "dateTime"),
    ("createdby", "string"),
    ("createdtransactionid", "int64"),
    ("dataareaid", "string"),
    ("recversion", "int64"),
    ("partition", "int64"),
    ("sysrowversion", "int64"),
    ("recid", "int64"),
    ("tableid", "int64"),
    ("versionnumber", "int64"),
    ("createdon", "dateTimeOffset"),
    ("modifiedon", "dateTime"),
    ("IsDelete", "boolean"),
]

BASE_VERSION = 5_000_000_000
START = datetime(2021, 6, 1, 0, 0, 0)


def model_json() -> str:
    return json.dumps(
        {
            "name": "cdm",
            "version": "1.0",
            "entities": [
                {
                    "$type": "LocalEntity",
                    "name": ENTITY,
                    "attributes": [
                        {"name": n, "dataType": t, "maxLength": -1} for n, t in COLUMNS
                    ],
                }
            ],
        }
    )


def key_id(k: int) -> str:
    """Lower-case GUID for integer key ``k`` (already its own merge key)."""
    return f"{k:08x}-aaaa-4bbb-8ccc-{k:012x}"


def data_row(k: int, version: int, rnd: int) -> str:
    iso = f"2021-03-04T05:{rnd % 60:02d}:07.0000000Z"
    return (
        f'{key_id(k)},"1/7/2021 0:04:05 PM","1/7/2021 3:04:05 PM",0,{rnd % 1000},{rnd % 77},'
        f'"D{rnd:07d}",{rnd % 13},,"{iso}","usr{rnd % 9}",{7000 + rnd % 5000},"{iso}","usr1",'
        f'7002,"dat",1,{version % 13},{version},{k},21111,{version},'
        f'"2021-03-04T05:06:07.0000000+00:00","{iso}",'
    )


def delete_row(k: int, version: int) -> str:
    return (
        f'{key_id(k)},"1/7/2021 0:04:05 PM","1/7/2021 3:04:05 PM",,,,,,,,,,,,,,,,,,,'
        f'{version},"0001-01-03T00:00:00.0000000",,True'
    )


def row_checksum(k: int, version: int) -> int:
    return zlib.crc32(f"{key_id(k)}:{version}".encode())


class ChangeFeed:
    """One seeded entity history: emits change folders and tracks the oracle.

    ``live`` maps key -> latest version of every live key; a delete
    removes the key. A key's superseded version is kept in ``history`` so
    stale re-uploads can repeat it.
    """

    def __init__(self, root: str, seed: int):
        self.root = root
        self.rng = random.Random(seed)
        self.version = BASE_VERSION
        self.next_key = 1
        self.live: dict[int, int] = {}
        self.history: dict[int, int] = {}  # key -> a superseded version
        self.live_list: list[int] = []  # keys in insertion order (may hold dead keys)
        self.folders: list[str] = []
        self.rows_written = 0
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "model.json"), "w") as fh:
            fh.write(model_json())

    def _next_version(self) -> int:
        self.version += 1 + self.rng.randrange(3)
        return self.version

    def _pick_live(self, n: int, exclude: set[int]) -> list[int]:
        """``n`` distinct live keys not in ``exclude`` (uniform over keys)."""
        out: list[int] = []
        seen = set(exclude)
        tries = 0
        while len(out) < n and tries < 50 * n + 100:
            tries += 1
            k = self.live_list[self.rng.randrange(len(self.live_list))]
            if k in seen or k not in self.live:
                continue
            seen.add(k)
            out.append(k)
        return out

    def make_folder(
        self,
        rows: int,
        updates: float = 0.0,
        deletes: float = 0.0,
        stale: float = 0.0,
    ) -> tuple[str, list[str]]:
        """Build the next change folder in memory: one row per touched key.

        Shares are fractions of ``rows``; inserts of new keys take the
        remainder, so the folder holds exactly ``rows`` rows. Returns
        (folder name, CSV lines) and applies the folder to the oracle;
        ``write_folder`` puts it on disk."""
        n_upd = int(rows * updates)
        n_del = int(rows * deletes)
        n_stale = int(rows * stale)
        touched: set[int] = set()
        upd = self._pick_live(n_upd, touched)
        touched.update(upd)
        dele = self._pick_live(n_del, touched)
        touched.update(dele)
        stale_keys = [k for k in self._pick_live(n_stale, touched) if k in self.history]
        touched.update(stale_keys)
        n_ins = rows - len(upd) - len(dele) - len(stale_keys)
        lines: list[str] = []
        for k in upd:
            v = self._next_version()
            self.history[k] = self.live[k]
            self.live[k] = v
            lines.append(data_row(k, v, self.rng.randrange(10_000_000)))
        for k in dele:
            self.history[k] = self.live.pop(k)
            lines.append(delete_row(k, self._next_version()))
        for k in stale_keys:
            lines.append(data_row(k, self.history[k], self.rng.randrange(10_000_000)))
        for _ in range(n_ins):
            k = self.next_key
            self.next_key += 1
            v = self._next_version()
            self.live[k] = v
            self.live_list.append(k)
            lines.append(data_row(k, v, self.rng.randrange(10_000_000)))
        self.rng.shuffle(lines)
        name = (START + timedelta(minutes=len(self.folders))).strftime("%Y-%m-%dT%H.%M.%S") + "Z"
        self.folders.append(name)
        return name, lines

    def write_folder(self, name: str, lines: list[str]) -> None:
        entity_dir = os.path.join(self.root, name, ENTITY)
        os.makedirs(entity_dir, exist_ok=True)
        with open(os.path.join(self.root, name, "model.json"), "w") as fh:
            fh.write(model_json())
        with open(os.path.join(entity_dir, "data.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.rows_written += len(lines)

    def publish(self, name: str) -> None:
        """Point ``Changelog/changelog.info`` at ``name`` (the commit point
        of a Synapse Link export)."""
        d = os.path.join(self.root, "Changelog")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "changelog.info.tmp")
        with open(tmp, "w") as fh:
            fh.write(name)
        os.replace(tmp, os.path.join(d, "changelog.info"))

    def add_folder(self, rows: int, **shares: float) -> str:
        name, lines = self.make_folder(rows, **shares)
        self.write_folder(name, lines)
        return name

    def checksum(self) -> tuple[int, int]:
        """(live rows, sum of crc32("<Id>:<version>") over live keys)."""
        return len(self.live), sum(row_checksum(k, v) for k, v in self.live.items())

    def lookup_key(self) -> tuple[str, int]:
        """A random live key and its latest version, for point lookups."""
        k = self._pick_live(1, set())[0]
        return key_id(k), self.live[k]


def build_backlog(
    root: str, seed: int, folders: int, rows_per_folder: int, mix: dict[str, float]
) -> ChangeFeed:
    """A published backlog: an all-insert first folder, then ``folders - 1``
    change folders drawn from ``mix``."""
    feed = ChangeFeed(root, seed)
    feed.add_folder(rows_per_folder)
    for _ in range(folders - 1):
        feed.add_folder(rows_per_folder, **mix)
    feed.publish(feed.folders[-1])
    return feed
