"""Deterministic benchmark inputs, written with numpy/pyarrow only.

The engine never sees how they were made: it reads parquet tables and
landing JSONL from a directory, as it reads its pre-generated test data
or a real landing zone.

- ``write_catalog_tables``: the ten TPC-H-ish tables the catalog queries
  read (same names, columns and types as the engine's test data).  They
  use a fixed generator seed, so a pinned output digest stays valid for
  every ``--seed``.
- ``YoutubeLanding``: seeded YouTube-API-shaped landing JSONL for the
  daily pipeline, with day-varying statistics.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    langs = rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    labels = rng.integers(0, 10, n).astype("int32")
    centroids = rng.normal(size=(10, dim))
    x = 0.15 * centroids[labels] + rng.normal(size=(n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype("float32")
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(x),
        "label": labels,
    })


def write_catalog_tables(dst: str, sf: float, n_doc: int | None = None) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf``, with ``n_doc`` documents
    and embeddings (default: the test data's count); returns row counts."""
    rng = np.random.default_rng(CATALOG_SEED)
    os.makedirs(dst, exist_ok=True)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_doc or max(500, int(50_000 * sf))
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
    }
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19.0, 4200.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_doc)
    for name, df in tables.items():
        _write(df, os.path.join(dst, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


# ---------------------------------------------------------------------------
# YouTube landing zone
# ---------------------------------------------------------------------------
# every cleaning case the normalizers handle: ';', non-ASCII and emoji,
# real tab/newline/CR, literal backslash sequences
_NASTY = ["; ", "café ", "\U0001f600 ", "❤️", "\t", "\n", "\r", "\\t", "\\n", "\\r", "naïve "]
_WORDS = "great video love this music first again watch best song wow nice part".split()


@dataclass(frozen=True)
class DayStats:
    views: np.ndarray
    comments: np.ndarray

    def ols(self) -> dict[str, float]:
        """Closed-form comments ~ views fit with in-sample RMSE: the
        reference Lambda's model, computed independently of the engine."""
        x, y = self.views.astype("float64"), self.comments.astype("float64")
        b1 = float(np.mean((x - x.mean()) * (y - y.mean())) / np.var(x))
        b0 = float(y.mean() - b1 * x.mean())
        rmse = float(np.sqrt(np.mean((b0 + b1 * x - y) ** 2)))
        return {"b0": b0, "b1": b1, "rmse": rmse, "n": int(len(x))}


class YoutubeLanding:
    """Seeded landing JSONL for ``n_videos`` videos.  Search, comment and
    snippet pages are the same every day; statistics change per day.
    ``rows`` holds the exact row count each warehouse table must get."""

    def __init__(self, root: str, seed: int, n_videos: int, comments_per_video: float):
        self.root = root
        self.seed = seed
        self.n = n_videos
        self.ids = [f"vid{seed % 1000:03d}{i:07d}" for i in range(n_videos)]
        rng = np.random.default_rng(seed)
        # strings are drawn from seeded pools: per-record rng calls would
        # make generation, not the engine, the slow part of set-up
        self._texts = [self._text(rng, int(k)) for k in rng.integers(1, 40, 4096)]
        self._stamps = [
            f"{np.datetime64('2021-01-01') + int(d)}T{h:02d}:{m:02d}:05Z"
            for d, h, m in zip(rng.integers(0, 900, 1024), rng.integers(0, 24, 1024),
                               rng.integers(0, 60, 1024))
        ]
        os.makedirs(root, exist_ok=True)
        self.rows = {"video_descriptions": n_videos, "video_statistics": n_videos}
        self.paths = {
            "search": self._write_search(rng),
            "comments": self._write_comments(rng, comments_per_video),
            "snippets": self._write_snippets(rng),
        }
        self._days: dict[int, tuple[dict[str, str], DayStats]] = {}
        self.base_views = rng.lognormal(8.0, 1.5, n_videos)
        self.rate = rng.uniform(0.002, 0.02, n_videos)

    @staticmethod
    def _text(rng, k: int) -> str:
        words = rng.choice(_WORDS, k)
        nasty = rng.choice(_NASTY, max(1, k // 4))
        return " ".join(words) + " " + "".join(nasty)

    def _pick(self, rng, n: int) -> tuple[list[str], list[str]]:
        t = rng.integers(0, len(self._texts), n)
        d = rng.integers(0, len(self._stamps), n)
        return [self._texts[i] for i in t], [self._stamps[i] for i in d]

    def _jsonl(self, name: str, records) -> str:
        path = os.path.join(self.root, f"{name}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            for rec in records:
                fh.write(json.dumps(rec, ensure_ascii=False) + "\n")
        return path

    def _write_search(self, rng) -> str:
        titles, stamps = self._pick(rng, self.n)
        descs, _ = self._pick(rng, self.n)
        items = [{"id": {"videoId": v},
                  "snippet": {"publishedAt": stamps[i], "title": titles[i], "description": descs[i]}}
                 for i, v in enumerate(self.ids)]
        return self._jsonl("search", ({
            "nextPageToken": f"P{s + 50}" if s + 50 < self.n else None,
            "items": items[s:s + 50],
        } for s in range(0, self.n, 50)))

    def _write_comments(self, rng, per_video: float) -> str:
        n_top = rng.poisson(per_video * 0.7, self.n)
        n_rep = rng.poisson(0.45, int(n_top.sum()))
        total = int(n_top.sum() + n_rep.sum())
        texts, stamps = self._pick(rng, total)
        authors, _ = self._pick(rng, total)
        likes = rng.integers(0, 500, total).tolist()
        self.rows["video_comments"] = total
        k = 0

        def comment(vid: str) -> dict:
            nonlocal k
            k += 1
            return {"snippet": {"textOriginal": texts[k - 1], "publishedAt": stamps[k - 1],
                                "videoId": vid, "authorDisplayName": authors[k - 1],
                                "likeCount": likes[k - 1]}}

        def pages():
            thread = 0
            for vid, n in zip(self.ids, n_top.tolist()):
                items = []
                for r in n_rep[thread:thread + n].tolist():
                    top = comment(vid)
                    replies = [comment(vid) for _ in range(r)]
                    items.append({"snippet": {"topLevelComment": top},
                                  "replies": {"comments": replies} if replies else None})
                thread += n
                for s in range(0, len(items), 20):
                    yield {"nextPageToken": f"C{s + 20}" if s + 20 < len(items) else None,
                           "items": items[s:s + 20]}

        return self._jsonl("comments", pages())

    def _write_snippets(self, rng) -> str:
        n_tags = rng.integers(0, 29, self.n)
        descs, _ = self._pick(rng, self.n)
        tags, _ = self._pick(rng, int(n_tags.sum()))
        self.rows["video_tags"] = int(np.maximum(n_tags, 1).sum())  # missing tags -> [""]
        records, k = [], 0
        for vid, n, desc in zip(self.ids, n_tags.tolist(), descs):
            records.append({"video_id": vid, "items": [{"snippet": {
                "description": desc, "tags": tags[k:k + n] if n else None}}]})
            k += n
        return self._jsonl("snippets", records)

    def day(self, d: int) -> tuple[dict[str, str], DayStats]:
        """Landing paths for day ``d`` (0-based) and that day's statistics,
        written on the first call."""
        if d not in self._days:
            self._days[d] = self._write_day(d)
        return self._days[d]

    def _write_day(self, d: int) -> tuple[dict[str, str], DayStats]:
        views = np.floor(self.base_views * (1.0 + 0.15 * d)).astype("int64")
        noise = np.random.default_rng([self.seed, d]).normal(0.0, 3.0, self.n)
        comments = np.maximum(0, np.floor(self.rate * views + noise)).astype("int64")
        likes = np.floor(views * 0.04).astype("int64")
        stats = self._jsonl(f"stats_{d}", ({"video_id": v, "items": [{"statistics": {
            "viewCount": str(views[i]), "likeCount": str(likes[i]),
            "dislikeCount": str(likes[i] // 20), "commentCount": str(comments[i]),
        }}]} for i, v in enumerate(self.ids)))
        return {**self.paths, "stats": stats}, DayStats(views, comments)
