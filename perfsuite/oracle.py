"""Result checking against the registered DuckDB oracles.

Rows are compared in the parity sweep's canonical form
(``tools/parity_sweep.py``): values typed and floats rounded to nine
significant digits, each row's values ordered by column name, rows
sorted.  Only a digest of the canonical rows is kept, so a check is a
count and a hash comparison.

Oracle digests are memoized per corpus digest and oracle text, in
memory and in a JSON file, so repeated runs on one corpus pay the
DuckDB pass once.
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def _norm(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, "bool", v)
    if isinstance(v, float):
        return (1, "f", "nan" if math.isnan(v) else f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return (1, "list", tuple(_norm(x) for x in v))
    return (1, type(v).__name__, v)


def canonical_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of rows in canonical form."""
    order = [i for i, _ in sorted(enumerate(columns), key=lambda t: t[1])]
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return len(canon), h.hexdigest()


class OracleBook:
    """Expected (count, digest) per query for one corpus."""

    def __init__(self, data_dir: str, corpus_digest: str, memo_path: str, tables):
        self.data_dir = data_dir
        self.corpus_digest = corpus_digest
        self.memo_path = memo_path
        self.tables = tables
        self.memo: dict[str, list] = {}
        if os.path.exists(memo_path):
            with open(memo_path) as f:
                self.memo = json.load(f)

    def _key(self, sql: str) -> str:
        return hashlib.sha256(f"{self.corpus_digest}\n{sql}".encode()).hexdigest()

    def expected(self, names: list[str], oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
        missing = [n for n in names if self._key(oracles[n]) not in self.memo]
        if missing:
            import duckdb

            con = duckdb.connect()
            try:
                con.execute("SET enable_progress_bar = false")
                for t in self.tables:
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                for n in missing:
                    cur = con.execute(oracles[n])
                    cols = [d[0] for d in cur.description]
                    self.memo[self._key(oracles[n])] = list(canonical_digest(cols, cur.fetchall()))
            finally:
                con.close()
            tmp = f"{self.memo_path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(self.memo, f)
            os.replace(tmp, self.memo_path)
        return {n: tuple(self.memo[self._key(oracles[n])]) for n in names}
