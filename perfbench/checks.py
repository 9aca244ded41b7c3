"""Output checks for one validate pass.

A pass is correct when its violation set has the digest recorded for its
seed (and the same digest as every other pass of the run), and the
ledger's verdicts account for exactly the violation rows the checks
wrote.  The digest covers the sorted (id, suspicious_column) multiset,
which pins which rows were flagged for what without depending on how an
explanation is worded.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

# rows the snapshot check appends after the verdicts were computed
SNAPSHOT_COLUMN = "snapshot_delta"


class CheckFailed(Exception):
    pass


def read_violations(out_dir: str, id_col: str) -> list[tuple[int, str]]:
    t = pq.read_table(out_dir, columns=[id_col, "suspicious_column"])
    return sorted(zip(t.column(id_col).to_pylist(),
                      t.column("suspicious_column").to_pylist()))


def digest(rows: list[tuple[int, str]]) -> str:
    h = hashlib.sha256()
    for i, c in rows:
        h.update(f"{i}\t{c}\n".encode())
    return h.hexdigest()


def check_ledger(ledger_path: str, rows: list[tuple[int, str]],
                 partitions: int) -> None:
    with open(ledger_path) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    verdicts = [e for e in entries if "partition" in e]
    if len({e["partition"] for e in verdicts}) != partitions:
        raise CheckFailed(f"ledger holds {len(verdicts)} verdicts, "
                          f"expected {partitions} partitions")
    counted = sum(e["verdict"]["n_violations"] for e in verdicts)
    written = sum(1 for _, c in rows if c != SNAPSHOT_COLUMN)
    if counted != written:
        raise CheckFailed(f"verdicts count {counted} violations, "
                          f"output holds {written}")


def recall(rows: list[tuple[int, str]], planted: dict[str, list[int]]) -> float:
    """Share of planted rows that the run flagged at all."""
    flagged = {i for i, _ in rows}
    ids = {i for k, v in planted.items() if not k.startswith("snapshot_")
           for i in v}
    return len(ids & flagged) / len(ids) if ids else 1.0


class DigestBook:
    """Expected digests: the committed book for seeds already measured,
    else the first pass seen in this checkout (kept in ``local_path``)."""

    def __init__(self, committed_path: str, local_path: str):
        self.local_path = local_path
        self.committed = _load(committed_path)
        self.local = _load(local_path)

    def expect(self, key: str, value: str) -> None:
        want = self.committed.get(key) or self.local.get(key)
        if want is None:
            self.local[key] = value
            with open(self.local_path, "w") as f:
                json.dump(self.local, f, indent=1, sort_keys=True)
        elif want != value:
            raise CheckFailed(f"violation digest {value[:12]} != recorded "
                              f"{want[:12]} for {key}")


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)
