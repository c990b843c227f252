"""Order-insensitive result digests.

A timed query op collects every output column and folds the rows into
a digest that does not depend on row order or partitioning. Columns are
ordered by name and cells canonicalized by the engine's DuckDB-oracle
comparison (``tests/oracle_harness.py``: decimals as floats, exact
floats with -0.0 folded to 0.0, NaN as a token, timestamps as naive
ISO strings), so the digest of a Spark result equals the digest of
its oracle's result exactly when the two agree row for row.
"""

from __future__ import annotations

import hashlib

from tests.oracle_harness import _canon

_MASK = (1 << 128) - 1


def digest(columns: list[str], rows) -> str:
    """Digest of a result: its sorted column names, its row count and
    the 128-bit sum of per-row hashes, so equal multisets of rows give
    equal digests whatever their order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        cells = tuple(_canon(row[i]) for i in order)
        h = hashlib.blake2b(repr(cells).encode("utf-8"), digest_size=16).digest()
        acc = (acc + int.from_bytes(h, "little")) & _MASK
        n += 1
    head = ",".join(sorted(columns))
    return f"{n}:{acc:032x}:{hashlib.blake2b(head.encode(), digest_size=8).hexdigest()}"
