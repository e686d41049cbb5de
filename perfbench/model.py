"""The benchmark's own in-memory model of the versioned corpus.

Every write the benchmark makes is applied here too; after each one the
model records the version the engine reports, so any later read of the
engine (latest, time travel, point lookup) has an expected answer.
"""

from __future__ import annotations


class CorpusModel:
    """Live rows as ``{doc_id: score}``, plus a frozen copy per version.

    Deletes are logical at write time, and ``apply_deletes`` and
    ``vacuum_versions`` change no live content, so only ``append``,
    ``upsert`` and ``delete`` move the live set."""

    def __init__(self):
        self.live: dict = {}
        self.versions: dict = {}

    def append(self, rows) -> None:
        for doc_id, score in rows:
            if doc_id in self.live:
                raise ValueError(f"append of live key {doc_id}")
            self.live[doc_id] = score

    def upsert(self, rows) -> None:
        for doc_id, score in rows:
            self.live[doc_id] = score

    def delete(self, ids) -> None:
        for doc_id in ids:
            self.live.pop(doc_id, None)

    def commit(self, version: int) -> None:
        """Record the live set as the content of ``version``."""
        if self.versions and version < max(self.versions):
            raise ValueError(f"version went backwards: {version}")
        self.versions[version] = dict(self.live)

    def at(self, version: int) -> dict:
        return self.versions[version]

    def lookup(self, ids, version: int | None = None) -> dict:
        rows = self.live if version is None else self.versions[version]
        return {i: rows[i] for i in ids if i in rows}
