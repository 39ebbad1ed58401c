"""Seeded generator of reference-shaped JSONL movie files.

Stdlib only and single-threaded: the same (shape, seed) always writes the
same bytes and the same mtimes, so the file source's batch composition is
identical on every run.

What a corpus holds:
  - one MovieInput document per line, kebab-case `watchedBy` structs;
  - Zipf movie popularity and skewed customer activity;
  - (customer, movie) pairs repeated across files with newer, older, equal
    and malformed dates;
  - missing ratings, null titles, empty `watchedBy`, a nested `movie-id`
    that disagrees with its parent;
  - a few corrupt (truncated) lines and one `.txt` decoy that the `*.json`
    glob must skip.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
from collections.abc import Iterator
from dataclasses import dataclass

#: mtime of the first generated file; file i gets MTIME_BASE + i seconds.
MTIME_BASE = 1_700_000_000
MALFORMED_DATES = ("not-a-date", "2024-13-01", "2023-02-30", "")
_DAY0 = dt.date(2020, 1, 1)
_DAYS = 5 * 365


@dataclass(frozen=True)
class Universe:
    """The id space and skew that every corpus of one workload draws from."""

    movies: int
    customers: int
    movie_zipf: float = 1.1
    customer_zipf: float = 0.6
    repeat_frac: float = 0.25  # elements that revisit an earlier pair
    missing_rating_frac: float = 0.03


@dataclass(frozen=True)
class Shape:
    """Size of one generated corpus."""

    files: int
    docs_per_file: int  # movie documents (lines) per file
    watchers_per_doc: int  # mean watchedBy length
    corrupt_lines: int


@dataclass
class Corpus:
    """What the generator wrote, for the oracle and the metrics."""

    root: str
    json_files: list[str]  # in mtime order == file-source order
    decoy: str
    corrupt_lines: int
    valid_ratings: int  # watchedBy elements in decodable lines
    valid_bytes: int  # bytes of decodable lines in `*.json` files


def _cum_zipf(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))


def _date(day: int) -> str:
    return (_DAY0 + dt.timedelta(days=day)).isoformat()


class Generator:
    """One seeded draw stream. Corpora written by the same generator share
    their history, so a later corpus revisits pairs of an earlier one."""

    def __init__(self, universe: Universe, seed: int):
        self.rng = random.Random(seed)
        self.u = universe
        self.movie_cum = _cum_zipf(universe.movies, universe.movie_zipf)
        self.cust_cum = _cum_zipf(universe.customers, universe.customer_zipf)
        # fixed per-movie attributes; a few titles are null
        self.movie_attr = {
            f"m{i}": (None if i % 97 == 13 else f"TITLE {i}", 1950 + (i * 7) % 75)
            for i in range(universe.movies)
        }
        self.seen: dict[str, list[tuple[str, int]]] = {}  # movie -> [(customer, day)]

    def _pick(self, cum: list[float]) -> int:
        return bisect.bisect_left(cum, self.rng.random() * cum[-1])

    def movie(self) -> str:
        return f"m{self._pick(self.movie_cum)}"

    def customer(self) -> str:
        return f"c{self._pick(self.cust_cum)}"

    def element(self, movie: str) -> dict:
        rng, u = self.rng, self.u
        customer, day = self.customer(), rng.randrange(_DAYS)
        seen = self.seen.setdefault(movie, [])
        if seen and rng.random() < u.repeat_frac:
            # revisit an earlier pair: newer, older or the very same date
            customer, old_day = seen[rng.randrange(len(seen))]
            day = old_day + rng.choice((rng.randrange(1, 400), -rng.randrange(1, 400), 0))
            day = min(max(day, 0), _DAYS)
        seen.append((customer, day))
        date = _date(day)
        if rng.random() < 0.02:
            date = rng.choice(MALFORMED_DATES)
        el = {
            "customer-id": customer,
            # dead data: a few nested ids disagree with the parent
            "movie-id": movie if rng.random() > 0.01 else "m_WRONG",
            "date": date,
        }
        if rng.random() >= u.missing_rating_frac:
            el["rating"] = rng.randint(1, 5)
        return el

    def doc(self, watchers: int) -> dict:
        movie = self.movie()
        title, year = self.movie_attr[movie]
        n = 0 if self.rng.random() < 0.01 else self.rng.randint(1, 2 * watchers - 1)
        return {
            "movieId": movie,
            "title": title,
            "yearOfRelease": year,
            "watchedBy": [self.element(movie) for _ in range(n)],
        }

    def docs(self, shape: Shape) -> Iterator[dict]:
        """The documents a corpus of `shape` holds, drawn but not written."""
        for _ in range(shape.files * shape.docs_per_file):
            yield self.doc(shape.watchers_per_doc)

    def write(self, root: str, shape: Shape) -> Corpus:
        """Write `shape.files` JSONL files (plus a decoy) under `root`."""
        rng = self.rng
        os.makedirs(root, exist_ok=True)
        corrupt_at = set(rng.sample(range(shape.files * shape.docs_per_file), shape.corrupt_lines))
        files, valid_ratings, valid_bytes, line_no = [], 0, 0, 0
        for i in range(shape.files):
            lines = []
            for _ in range(shape.docs_per_file):
                doc = self.doc(shape.watchers_per_doc)
                line = json.dumps(doc, separators=(",", ":"))
                if line_no in corrupt_at:
                    line = line[: len(line) // 2]  # truncated mid-object
                else:
                    valid_ratings += len(doc["watchedBy"])
                    valid_bytes += len(line) + 1
                lines.append(line)
                line_no += 1
            path = os.path.join(root, f"movies-{i:05d}.json")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
            files.append(path)
        # valid JSON that would change the result if the glob let it through
        decoy = os.path.join(root, "movies-decoy.txt")
        with open(decoy, "w") as f:
            for _ in range(3):
                doc = self.doc(shape.watchers_per_doc)
                for el in doc["watchedBy"]:
                    el["date"] = "2099-01-01"
                f.write(json.dumps(doc) + "\n")
        os.utime(decoy, (MTIME_BASE, MTIME_BASE))
        return Corpus(root, files, decoy, shape.corrupt_lines, valid_ratings, valid_bytes)
