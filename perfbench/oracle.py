"""Expected read results, from the repository's executable read-semantics
spec (``tests/spec.py``'s ``resolve_spec``) over the generated cells.

The model keeps every cell ever written, uncompacted, per row; reads
under the generated tables' family schema are resolved by the spec.
"""

from __future__ import annotations

import importlib.util
import os

from generators import F2_TTL_MS, NOW

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_spec():
    path = os.path.join(_ROOT, "tests", "spec.py")
    spec = importlib.util.spec_from_file_location("hbase_read_spec", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_spec = _load_spec()

# A versions=3 read of the generated schema: Table.scan clamps it to
# each family's MAX_VERSIONS and applies TTL / MIN_VERSIONS / KDC.
READ_KW = dict(
    versions={"f1": 3, "f2": 1},
    min_versions={"f1": 0, "f2": 1},
    ttl_by_family={"f2": F2_TTL_MS},
    now=NOW,
    keep_deleted_cells={"f1"},
    new_version_behavior=set(),
)
# the read half of increment / check-and-mutate (Table._resolve_kw)
RMW_KW = dict(
    versions=1,
    min_versions={"f1": 0, "f2": 1},
    ttl_by_family={"f2": F2_TTL_MS},
    now=NOW,
    new_version_behavior=set(),
)

_FIELDS = ("row", "family", "qualifier", "ts", "type", "value", "seq")


def cell_bytes(c) -> int:
    """User bytes of one cell: key, family, qualifier and value bytes
    plus 8 (ts) + 8 (seq) + 4 (type)."""
    row, fam, qual, _, _, value, _ = c
    return len(row) + len(fam) + len(qual or "") + len(value or "") + 20


class Model:
    """row -> the cells written to it, as dicts for the spec."""

    def __init__(self, cells=()):
        self.rows: dict[str, list[dict]] = {}
        self._memo: dict[str, frozenset] = {}
        self.add(cells)

    def add(self, cells) -> None:
        for c in cells:
            self.rows.setdefault(c[0], []).append(dict(zip(_FIELDS, c)))
            self._memo.pop(c[0], None)

    def visible(self, row: str, **kw) -> list[dict]:
        return _spec.resolve_spec(self.rows.get(row, []), **(kw or READ_KW))

    def read_keys(self, row: str) -> frozenset:
        """Key set of a versions=3 read of ``row``."""
        got = self._memo.get(row)
        if got is None:
            got = frozenset(_spec.key_set(self.visible(row)))
            self._memo[row] = got
        return got

    def current(self, row: str, fam: str, qual: str):
        """Newest visible value of one column under the read-modify-write
        rules, or None."""
        for c in self.visible(row, **RMW_KW):
            if c["family"] == fam and c["qualifier"] == qual:
                return c["value"]
        return None


def keys_of(rows) -> dict[str, set]:
    """Program output rows -> row -> key set, in the spec's key shape."""
    out: dict[str, set] = {}
    for r in rows:
        out.setdefault(r["row"], set()).add(
            (r["row"], r["family"], r["qualifier"], r["ts"], r["value"])
        )
    return out
