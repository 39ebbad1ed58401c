"""Pure-Python oracle for the paper's dataflow semantics.

  - explode: one flat row per `watchedBy` element; the parent movieId wins
    over the nested `movie-id`; a missing rating reads as 0;
  - batch last-write-wins per (customer, movie): parsed date desc with
    unparseable dates last, then rating desc, then raw date desc;
  - stateful merge: the new row wins only when both dates parse and the new
    one is strictly after; ties and unparseable dates keep the existing row;
  - per-customer grouping into the KV blob, compared as parsed JSON.
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections.abc import Iterable

FLAT = ("movieId", "title", "yearOfRelease", "customerId", "rating", "date")
_ISO = re.compile(r"\d{4}-\d{2}-\d{2}\Z")

Row = tuple  # (movieId, title, yearOfRelease, customerId, rating, date)


def parse_date(s: str | None) -> dt.date | None:
    if s is None or not _ISO.match(s):
        return None
    try:
        return dt.date.fromisoformat(s)
    except ValueError:
        return None


def explode_lines(lines: Iterable[str]) -> list[Row]:
    """Flat rows of every decodable line; undecodable lines are dropped."""
    docs = []
    for line in lines:
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(doc, dict):
            docs.append(doc)
    return explode_docs(docs)


def explode_docs(docs: Iterable[dict]) -> list[Row]:
    """Flat rows of movie documents, one per `watchedBy` element."""
    rows = []
    for doc in docs:
        for el in doc.get("watchedBy") or ():
            rating = el.get("rating")
            rows.append(
                (
                    doc.get("movieId"),
                    doc.get("title"),
                    doc.get("yearOfRelease"),
                    el.get("customer-id"),
                    0 if rating is None else rating,
                    el.get("date"),
                )
            )
    return rows


def explode_files(paths: Iterable[str]) -> list[Row]:
    rows: list[Row] = []
    for path in paths:
        with open(path) as f:
            rows.extend(explode_lines(f.read().splitlines()))
    return rows


def _lww_key(row: Row) -> tuple:
    d = parse_date(row[5])
    # greater is better: parseable before unparseable, then date, rating, raw
    return (d is not None, d or dt.date.min, row[4], row[5] is not None, row[5] or "")


def batch_lww(rows: Iterable[Row]) -> dict[tuple[str, str], Row]:
    """Batch dedup: one winner per (customerId, movieId)."""
    out: dict[tuple[str, str], Row] = {}
    for row in rows:
        key = (row[3], row[0])
        cur = out.get(key)
        if cur is None or _lww_key(row) > _lww_key(cur):
            out[key] = row
    return out


def merge(state: dict[tuple[str, str], Row], batch: dict[tuple[str, str], Row]) -> None:
    """Stateful merge of a deduped batch into `state`, in place."""
    for key, new in batch.items():
        old = state.get(key)
        if old is None:
            state[key] = new
            continue
        d_new, d_old = parse_date(new[5]), parse_date(old[5])
        if d_new is not None and d_old is not None and d_new > d_old:
            state[key] = new


def _spark_sort_key(row: Row) -> tuple:
    # sort_array over struct(movieId, title, yearOfRelease, rating, date):
    # field by field, nulls first
    fields = (row[0], row[1], row[2], row[4], row[5])
    return tuple((v is not None, v if v is not None else "") for v in fields)


def group(state: dict[tuple[str, str], Row]) -> dict[str, dict]:
    """Per-customer KV blobs, keyed 'customer:<id>', as parsed JSON
    (null fields are omitted, as `to_json` does)."""
    per: dict[str, list[Row]] = {}
    for (customer, _), row in state.items():
        per.setdefault(customer, []).append(row)
    out = {}
    for customer, rows in per.items():
        movies = [
            {k: v for k, v in zip(("movieId", "title", "yearOfRelease", "rating", "date"),
                                  (r[0], r[1], r[2], r[4], r[5])) if v is not None}
            for r in sorted(rows, key=_spark_sort_key)
        ]
        out[f"customer:{customer}"] = {"customerId": customer, "watchedMovies": movies}
    return out


def expected_backfill(paths: list[str]) -> dict[str, dict]:
    """One batch job over every file: LWW over all rows, then group."""
    return group(batch_lww(explode_files(paths)))


def expected_stream(paths: list[str], files_per_batch: int, initial: dict | None = None) -> dict:
    """Micro-batches of `files_per_batch` files in order, each deduped and
    merged into the state; returns the final flat state."""
    state = dict(initial or {})
    for i in range(0, len(paths), files_per_batch):
        merge(state, batch_lww(explode_files(paths[i : i + files_per_batch])))
    return state


def mismatches(kv: dict[str, str], expected: dict[str, dict]) -> int:
    """Keys whose stored blob differs from the oracle, plus missing and
    unexpected keys."""
    bad = len(set(kv) ^ set(expected))
    for key in set(kv) & set(expected):
        if json.loads(kv[key]) != expected[key]:
            bad += 1
    return bad
