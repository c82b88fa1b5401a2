"""The correctness table and the check every op execution passes through.

``hashes.json`` holds, per op, the row count and the order-insensitive
value hash (``tools/check_oracles.value_hash``) of its DuckDB oracle on the
unpermuted base tables. The seed only permutes rows, so the expected hash
does not depend on it; an op that fails under some seed has an
order-dependent result.

Hashing normalizes every cell in Python, about 1.6 s for a 60k-row
result, so a result whose exact content was already verified in this
process is recognized by a native content fingerprint and not hashed
again; any other content, including float noise within the hash's
rounding, is hashed in full.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from tools.check_oracles import value_hash

HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hashes.json")


def _fingerprint(frame: pd.DataFrame) -> tuple:
    cols = sorted(frame.columns)
    frame = frame[cols]
    try:
        rows = pd.util.hash_pandas_object(frame, index=False)
    except TypeError:  # list or array cells are not hashable as-is
        rows = pd.util.hash_pandas_object(frame.astype(str), index=False)
    # a wrapping sum of row hashes: independent of row order
    return tuple(cols), len(frame), int(rows.to_numpy().sum(dtype="uint64"))


class Checker:
    def __init__(self, path: str = HASHES) -> None:
        with open(path) as f:
            self.expected = json.load(f)
        self._verified: dict[tuple, bool] = {}

    def check(self, op: str, frame: pd.DataFrame) -> bool:
        want = self.expected[op]
        if len(frame) != want["rows"]:
            return False
        key = (op, _fingerprint(frame))
        if key not in self._verified:
            rows = list(frame.itertuples(index=False, name=None))
            self._verified[key] = value_hash(rows, list(frame.columns)) == want["hash"]
        return self._verified[key]
