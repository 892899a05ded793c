"""Output checks, run outside the timed window.

A catalog operation's result is reduced to (row count, order-insensitive
digest).  Where the catalog has a DuckDB oracle (``plans.oracle_sql()``)
and DuckDB answers in well under a second, the reference digest is
computed by DuckDB on the same parquet.  The near-dup queries' oracle
SQL is a quadratic self-join (``near_dup_pairs`` takes 11.5 s in DuckDB
on 500 documents and 47 s on 1000 replicated ones), and the media queries
have no SQL, so these are compared with the digest pinned in
``pinned.json``, recorded from the engine at the commit that added this
benchmark (see README.md, "Output checks").
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_utils import canon_rows, duck_con

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")
PINNED_QUERIES = frozenset({
    "near_dup_pairs", "near_dup_minhash", "simhash_clusters", "ann_pq_rerank",
    "near_dup_clusters", "image_near_dup_phash", "audio_near_dup_fingerprint",
    "video_near_dup_signature",
})


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows, columns by name),
    canonicalised as the engine's oracle tests do (``canon_rows``)."""
    canon = sorted("\x1f".join(r) for r in canon_rows(cols, rows))
    h = hashlib.sha256("\x1e".join(sorted(cols)).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return len(rows), h.hexdigest()


class Oracle:
    """Reference (rows, digest) per query for one input directory."""

    def __init__(self, data_dir: str, profile: str, oracle_sql: dict[str, str]):
        self.data_dir = data_dir
        self.profile = profile
        self.sql = oracle_sql
        self._con = None
        with open(PINNED_PATH) as fh:
            self.pinned = json.load(fh).get(profile, {})

    def _duck(self):
        if self._con is None:
            self._con = duck_con(self.data_dir)
        return self._con

    def expected(self, name: str) -> tuple[str, tuple[int, str]]:
        """(source, (rows, digest)); source is 'duckdb' or 'pinned'."""
        if name not in PINNED_QUERIES:
            rel = self._duck().execute(self.sql[name])
            cols = [c[0] for c in rel.description]
            return "duckdb", digest(cols, rel.fetchall())
        if name not in self.pinned:
            raise KeyError(f"no pinned digest for {name} ({self.profile})")
        p = self.pinned[name]
        return "pinned", (p["rows"], p["digest"])

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
