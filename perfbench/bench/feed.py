"""Seeded TMDB-shaped movie feed for the etl_upsert workload, and the
expected destination state derived from it.

Every endpoint owns a dense id range. Columns that never change after a
movie first appears (titles, paths, genres, dates) are functions of the
id; the mutable columns live in per-endpoint arrays. Each day sends, per
endpoint, `pages` pages of 20 rows made of fixed shares of exact
duplicates, unchanged re-sends, updates and new keys. From `add_col_day`
on, rows carry a `revenue` column. On `type_change_day` only, `vote_count`
arrives as a double, which the destination keeps in the
`vote_count_double` sidecar; later days send it as a long again. (A type
change that persists to a second day makes `SchemaDrift.align` add the
sidecar twice; the benchmark reports that defect from a separate probe.)

The expected state applies the reference MERGE semantics (null-safe
change detection over every column except the key and the audit stamp;
unchanged rows keep their old stamp) directly to these arrays; it never
calls the program.
"""
import datetime as dt
import hashlib

import numpy as np
import pyarrow as pa

ENDPOINTS = ("popular", "top_rated", "upcoming", "now_playing")
MOVIE_COLUMNS = ("adult", "backdrop_path", "genre_ids", "id", "original_language",
                 "original_title", "overview", "popularity", "poster_path",
                 "release_date", "title", "video", "vote_average", "vote_count")
GENRES = (12, 14, 16, 18, 27, 28, 35, 53, 80, 99, 878, 10749)
LANGS = ("en", "fr", "es", "de", "ja", "ko", "it", "zh")
WORDS = ("a", "lost", "city", "night", "river", "king", "dream", "war", "star",
         "heart", "storm", "road", "last", "secret", "house", "ghost")
PER_PAGE = 20
# shares of one day's rows per endpoint: duplicates, re-sends, updates, new keys
SHARES = (0.10, 0.30, 0.40, 0.20)
BASE_DATE = dt.date(2024, 3, 1)
ID_STRIDE = 10_000_000


def stamp_us(day: int) -> int:
    d = BASE_DATE + dt.timedelta(days=day)
    return int(dt.datetime(d.year, d.month, d.day, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


STATIC_COLUMNS = ("adult", "backdrop_path", "genre_ids", "original_language",
                  "original_title", "overview", "poster_path", "release_date", "title", "video")
_DATES = [(dt.date(1980, 1, 1) + dt.timedelta(days=i)).isoformat() for i in range(16000)]
_PHRASES = [" ".join(WORDS[(i >> k) & 15] for k in (0, 4, 8, 12)) for i in range(1 << 16)]


def static_columns(ids: np.ndarray) -> dict:
    """The columns of movies `ids` that never change, as lists."""
    h = (ids.astype(np.int64) * 2654435761) & 0xFFFFFFFF
    ids_l = ids.tolist()
    titles = [f"{WORDS[a].title()} {WORDS[b]} {m}"
              for a, b, m in zip((h & 15).tolist(), ((h >> 4) & 15).tolist(), ids_l)]
    g1, g2 = (h % 12).tolist(), ((h >> 8) % 12).tolist()
    two = ((h >> 12) & 1).tolist()
    return {
        "adult": (h % 17 == 0).tolist(),
        "backdrop_path": [None if z else f"/b{m}.jpg" for z, m in zip((h % 5 == 0).tolist(), ids_l)],
        "genre_ids": [[GENRES[a], GENRES[b]] if t else [GENRES[a]] for a, b, t in zip(g1, g2, two)],
        "original_language": [LANGS[i] for i in ((h >> 16) & 7).tolist()],
        "original_title": titles,
        "overview": [_PHRASES[i] for i in ((h >> 8) & 0xFFFF).tolist()],
        "poster_path": [f"/p{m}.jpg" for m in ids_l],
        "release_date": [_DATES[i] for i in (h % 16000).tolist()],
        "title": titles,
        "video": [False] * len(ids_l),
    }


class Table:
    """Expected state of one endpoint's destination."""

    def __init__(self, base: int, n: int, rng: np.random.Generator):
        self.base = base
        self.n = n
        cap = n * 2
        self.popularity = np.zeros(cap)
        self.vote_average = np.zeros(cap)
        self.vote_count = np.zeros(cap, dtype=np.int64)
        self.vote_count_null = np.zeros(cap, dtype=bool)
        self.vote_count_double = np.full(cap, np.nan)  # NaN stands for NULL
        self.revenue = np.zeros(cap, dtype=np.int64)
        self.revenue_null = np.ones(cap, dtype=bool)
        self.stamp = np.zeros(cap, dtype=np.int64)
        self.popularity[:n] = np.round(rng.uniform(0, 500, n), 3)
        self.vote_average[:n] = np.round(rng.uniform(0, 10, n), 1)
        self.vote_count[:n] = rng.integers(0, 20000, n)
        self.stamp[:n] = stamp_us(0)

    def grow(self, k: int) -> None:
        if self.n + k <= len(self.popularity):
            return
        extra = max(k, self.n)
        for name, fill in (("popularity", 0.0), ("vote_average", 0.0), ("vote_count", 0),
                           ("vote_count_null", False), ("vote_count_double", np.nan),
                           ("revenue", 0), ("revenue_null", True), ("stamp", 0)):
            a = getattr(self, name)
            setattr(self, name, np.concatenate([a, np.full(extra, fill, dtype=a.dtype)]))


def _num(v, as_double: bool) -> str:
    return repr(float(v)) if as_double else str(int(v))


class Feed:
    def __init__(self, seed: int, seed_rows: int, pages: int,
                 add_col_day: int = 2, type_change_day: int = 3):
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.pages = pages
        self.add_col_day = add_col_day
        self.type_change_day = type_change_day
        self.tables = {e: Table((i + 1) * ID_STRIDE, seed_rows, self.rng)
                       for i, e in enumerate(ENDPOINTS)}
        self.day_no = 0
        self.changed = {}  # (day, endpoint) -> rows inserted or updated

    # ------------------------------------------------------------ seed
    def seed_table(self, endpoint: str) -> pa.Table:
        t = self.tables[endpoint]
        ids = np.arange(t.base, t.base + t.n)
        cols = static_columns(ids)
        cols["id"] = ids
        cols["popularity"] = t.popularity[:t.n]
        cols["vote_average"] = t.vote_average[:t.n]
        cols["vote_count"] = t.vote_count[:t.n]
        types = {"adult": pa.bool_(), "video": pa.bool_(), "genre_ids": pa.list_(pa.int32()),
                 "id": pa.int64(), "popularity": pa.float64(), "vote_average": pa.float64(),
                 "vote_count": pa.int64()}
        return pa.table({c: pa.array(cols[c], type=types.get(c, pa.string()))
                         for c in MOVIE_COLUMNS})

    # ------------------------------------------------------------ days
    def next_day(self, render: bool = True) -> dict:
        """Advance one day: apply it to the expected state and return
        {endpoint: [(rows, page body)]} (empty lists unless `render`)."""
        self.day_no += 1
        return {e: self._day(e, self.day_no, render) for e in ENDPOINTS}

    def _day(self, endpoint: str, day: int, render: bool) -> list:
        t, rng = self.tables[endpoint], self.rng
        total = self.pages * PER_PAGE
        n_dup = int(total * SHARES[0])
        n_resend = int(total * SHARES[1])
        n_update = int(total * SHARES[2])
        n_new = total - n_dup - n_resend - n_update
        old = rng.choice(t.n, n_resend + n_update, replace=False)
        resend, update = old[:n_resend], old[n_resend:]
        t.grow(n_new)
        new = np.arange(t.n, t.n + n_new)
        t.n += n_new
        has_rev = day >= self.add_col_day
        typed = day == self.type_change_day

        # incoming values, aligned to the destination's evolved schema
        idx = np.concatenate([resend, update, new])
        pop = t.popularity[idx].copy()
        va = t.vote_average[idx].copy()
        vc_val = np.where(t.vote_count_null[idx], t.vote_count_double[idx],
                          t.vote_count[idx].astype(float))
        rev = t.revenue[idx].copy()
        rev_null = t.revenue_null[idx].copy()
        k = n_resend
        m = len(update) + len(new)
        pop[k:] = np.round(rng.uniform(0, 500, m), 3)
        va[k:] = np.round(rng.uniform(0, 10, m), 1)
        vc_val[k:k + len(update)] += rng.integers(1, 500, len(update))
        vc_val[k + len(update):] = rng.integers(0, 20000, len(new))
        if has_rev:
            rev[k:] = rng.integers(1, 10**9, m)
            rev_null[k:] = False

        # MERGE: compare every non-key, non-audit column null-safely
        if typed:
            in_vc_null = np.ones(len(idx), dtype=bool)
            in_vcd = vc_val
        else:
            in_vc_null = np.zeros(len(idx), dtype=bool)
            in_vcd = np.full(len(idx), np.nan)
        is_new = np.zeros(len(idx), dtype=bool)
        is_new[k + len(update):] = True
        same = ((pop == t.popularity[idx]) & (va == t.vote_average[idx])
                & (in_vc_null == t.vote_count_null[idx])
                & (in_vc_null | (vc_val == t.vote_count[idx]))
                & ((np.isnan(in_vcd) & np.isnan(t.vote_count_double[idx])) | (in_vcd == t.vote_count_double[idx]))
                & (rev_null == t.revenue_null[idx]) & (rev_null | (rev == t.revenue[idx])))
        take = is_new | ~same
        w = idx[take]
        t.popularity[w] = pop[take]
        t.vote_average[w] = va[take]
        t.vote_count_null[w] = in_vc_null[take]
        t.vote_count[w] = np.where(in_vc_null[take], 0, vc_val[take]).astype(np.int64)
        t.vote_count_double[w] = in_vcd[take]
        t.revenue[w] = rev[take]
        t.revenue_null[w] = rev_null[take]
        t.stamp[w] = stamp_us(day)
        self.changed[(day, endpoint)] = int(take.sum())
        if not render:
            rng.integers(0, len(idx), n_dup)  # keep the random stream identical
            rng.permutation(total)
            return []

        st = static_columns(t.base + idx)
        vcs = [_num(v, typed) for v in vc_val.tolist()]
        revs = (["null" if z else str(v) for z, v in zip(rev_null.tolist(), rev.tolist())]
                if has_rev else None)
        rows = []
        for j, mid in enumerate((t.base + idx).tolist()):
            bp = st["backdrop_path"][j]
            extra = f', "revenue": {revs[j]}' if has_rev else ""
            rows.append(
                f'{{"adult": {"true" if st["adult"][j] else "false"}, "backdrop_path": '
                f'{"null" if bp is None else chr(34) + bp + chr(34)}, '
                f'"genre_ids": [{",".join(map(str, st["genre_ids"][j]))}], "id": {mid}, '
                f'"original_language": "{st["original_language"][j]}", '
                f'"original_title": "{st["original_title"][j]}", "overview": "{st["overview"][j]}", '
                f'"popularity": {float(pop[j])!r}, "poster_path": "{st["poster_path"][j]}", '
                f'"release_date": "{st["release_date"][j]}", "title": "{st["title"][j]}", '
                f'"video": false, "vote_average": {float(va[j])!r}, "vote_count": {vcs[j]}{extra}}}')
        rows += [rows[int(j)] for j in rng.integers(0, len(rows), n_dup)]
        order = rng.permutation(len(rows))
        n_pages = (len(rows) + PER_PAGE - 1) // PER_PAGE
        pages = []
        for p in range(n_pages):
            chunk = [rows[int(j)] for j in order[p * PER_PAGE:(p + 1) * PER_PAGE]]
            pages.append((len(chunk),
                          f'{{"page": {p + 1}, "results": [{", ".join(chunk)}], '
                          f'"total_pages": {n_pages}, "total_results": {len(rows)}}}'))
        return pages

    # ------------------------------------------------------------ expected
    def columns(self) -> list:
        """Destination columns after the days so far, in table order."""
        cols = list(MOVIE_COLUMNS) + ["record_loaded_at"]
        evolutions = sorted([(self.add_col_day, 1, "revenue"),
                             (self.type_change_day, 0, "vote_count_double")])
        return cols + [c for d, _, c in evolutions if d <= self.day_no]

    def expected(self, endpoint: str) -> dict:
        """Column name -> Python list, rows ordered by id."""
        t = self.tables[endpoint]
        n = t.n
        ids = np.arange(t.base, t.base + n)
        out = static_columns(ids)
        out["id"] = ids.tolist()
        out["popularity"] = t.popularity[:n].tolist()
        out["vote_average"] = t.vote_average[:n].tolist()
        out["vote_count"] = [None if z else int(v) for v, z in
                             zip(t.vote_count[:n], t.vote_count_null[:n])]
        out["record_loaded_at"] = t.stamp[:n].tolist()
        out["revenue"] = [None if z else int(v) for v, z in zip(t.revenue[:n], t.revenue_null[:n])]
        out["vote_count_double"] = [None if np.isnan(v) else float(v)
                                    for v in t.vote_count_double[:n]]
        return {c: out[c] for c in self.columns()}


def content_hash(columns: dict) -> str:
    """Hash of a table given as column -> list with rows already in key
    order, so equal tables hash equal whatever order they were read in."""
    h = hashlib.sha256()
    for name in sorted(columns):
        h.update(name.encode())
        h.update(repr(columns[name]).encode())
    return h.hexdigest()
