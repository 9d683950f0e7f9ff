"""Correctness checks, run outside every timed region.

- Analytic results are compared with the DuckDB oracles of
  ``registry.oracle_sql()`` through an order-insensitive digest of
  canonicalised rows. Oracle digests are cached per data directory.
- ETL outputs (CSV as landed by ``sinks.write_csv``) are compared with an
  independent model of the reference transform: songs are every item,
  artists and albums keep the first occurrence of their key in
  (blob, item position) order. The model reads the blob bytes with the
  standard ``json`` module; it shares no code with the engine.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import hashlib
import json
import math
import os
from collections.abc import Callable
from decimal import Decimal

import pandas as pd


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bool, Decimal, str)):
        return str(v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
        if not isinstance(v, (list, tuple, dict)):
            return _cell(v)
    if isinstance(v, (list, tuple, dict)):
        return json.dumps(v, default=_cell, sort_keys=True)
    return str(v)


def digest_rows(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a row multiset, independent of row and
    column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1d" + line.encode())
    return len(canon), h.hexdigest()


def digest_frame(pdf: pd.DataFrame) -> tuple[int, str]:
    return digest_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))


def oracle_digests(data_dir: str, names: list[str], oracle_sql: Callable[[], dict[str, str]]) -> dict:
    """Digest of each named query's DuckDB oracle over ``data_dir``,
    cached in ``data_dir/oracle_digests.json``. ``oracle_sql`` is called
    only when a digest is missing."""
    path = os.path.join(data_dir, "oracle_digests.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    missing = [n for n in names if n not in cache]
    if missing:
        import duckdb

        sql = oracle_sql()
        con = duckdb.connect(config={"threads": str(len(os.sched_getaffinity(0)))})
        for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
        for n in missing:
            cache[n] = list(digest_frame(con.execute(sql[n]).fetchdf()))
        con.close()
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: tuple(cache[n]) for n in names}


# --- ETL model -------------------------------------------------------------

SONG_COLS = ["song_id", "name", "duration_ms", "url", "popularity", "added_date", "album_id", "artist_id"]
ARTIST_COLS = ["artist_id", "name", "url"]
ALBUM_COLS = ["album_id", "name", "release_date", "total_tracks", "url"]
TABLE_COLS = {"songs": SONG_COLS, "artists": ARTIST_COLS, "albums": ALBUM_COLS}


def _release(s: str) -> str:
    return {4: f"{s}-01-01", 7: f"{s}-01"}.get(len(s), s)


def model_tables(blob_paths: list[str]) -> dict[str, list[tuple]]:
    """Expected rows of the three tables over blobs processed together,
    keep-first in (blob name, item position) order."""
    out: dict[str, list[tuple]] = {"songs": [], "artists": [], "albums": []}
    seen_artist: set[str] = set()
    seen_album: set[str] = set()
    for path in sorted(blob_paths, key=os.path.basename):
        with open(path, encoding="utf-8") as f:
            items = json.load(f)["items"]
        for it in items:
            tr = it["track"]
            al, ar = tr["album"], tr["artists"][0]
            out["songs"].append(
                (tr["id"], tr["name"], str(tr["duration_ms"]), tr["external_urls"]["spotify"],
                 str(tr["popularity"]), it["added_at"], al["id"], ar["id"])
            )
            if ar["id"] not in seen_artist:
                seen_artist.add(ar["id"])
                out["artists"].append((ar["id"], ar["name"], ar["external_urls"]["spotify"]))
            if al["id"] not in seen_album:
                seen_album.add(al["id"])
                out["albums"].append(
                    (al["id"], al["name"], _release(al["release_date"]),
                     str(al["total_tracks"]), al["external_urls"]["spotify"])
                )
    return out


def read_csv_dir(path: str) -> tuple[list[str], list[tuple]]:
    """Header and rows of every part file under ``path``."""
    header: list[str] = []
    rows: list[tuple] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, newline="", encoding="utf-8") as f:
            r = csv.reader(f)
            h = next(r, None)
            if h is None:
                continue
            header = h
            rows.extend(tuple(x) for x in r)
    return header, rows


def output_stats(path: str) -> tuple[int, int, int]:
    """(part files, bytes, data rows) landed anywhere under ``path``."""
    parts = glob.glob(os.path.join(path, "**", "part-*.csv"), recursive=True)
    rows = 0
    for part in parts:
        with open(part, newline="", encoding="utf-8") as f:
            rows += max(0, sum(1 for _ in csv.reader(f)) - 1)
    return len(parts), sum(os.path.getsize(p) for p in parts), rows


def check_table(name: str, out_dir: str, expected: list[tuple]) -> list[str]:
    """Mismatch descriptions for one landed table (empty = correct)."""
    header, rows = read_csv_dir(out_dir)
    cols = TABLE_COLS[name]
    if header != cols:
        return [f"{name}: header {header} != {cols}"]
    got, want = digest_rows(cols, rows), digest_rows(cols, expected)
    if got != want:
        return [f"{name}: rows/digest {got[0]}/{got[1][:12]} != {want[0]}/{want[1][:12]}"]
    return []
