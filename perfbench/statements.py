"""Seeded SQL statement streams for the query workloads, and the oracle that
checks every answer against DuckDB over the source Parquet.

Each template yields one statement in two dialects (Spark SQL for the
store, DuckDB SQL for the oracle); they differ only where the engines name
a function differently. The stream is round-robin over the templates, so
every run of a workload has the same template mix and only the parameters
(time windows, languages, hosts) come from the seed.

``ROUTED`` templates are answered by the aggregate router at the commit
that introduced this benchmark; ``SCAN`` templates fall back to pushdown
decode there. The benchmark records the share that routes instead of
failing on it, so a router gain is not counted as an error.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter
from decimal import Decimal

import numpy as np

LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "other"]
PATH_TOKENS = ["news", "article", "sports", "tech", "index", "page", "world",
               "blog", "post", "item", "view", "archive"]


class Window:
    """The source's ``warc_ts`` range; windows are drawn as fractions of it."""

    def __init__(self, lo: dt.datetime, hi: dt.datetime):
        self.lo, self.span = lo, (hi - lo) + dt.timedelta(seconds=1)

    def bounds(self, rng: np.random.Generator, max_frac: float,
               empty_p: float = 0.0) -> tuple[str, str]:
        frac = 0.0 if rng.random() < empty_p else rng.uniform(0.0, max_frac)
        start = rng.uniform(0.0, 1.0 - frac)
        a = self.lo + start * self.span
        b = a + frac * self.span
        return _ts(a), _ts(b)

    def cut(self, rng: np.random.Generator) -> str:
        return _ts(self.lo + rng.uniform(0.0, 1.0) * self.span)


def _ts(t: dt.datetime) -> str:
    return f"TIMESTAMP '{t.replace(microsecond=0).isoformat(sep=' ')}'"


def _same(sql: str) -> tuple[str, str]:
    return sql, sql


# -- routed templates ------------------------------------------------------

def _count_all(rng, w):
    return _same("SELECT count(*) AS n FROM pages")


def _count_window(rng, w):
    t0, t1 = w.bounds(rng, 0.98, empty_p=0.2)
    return _same(f"SELECT count(*) AS n FROM pages "
                 f"WHERE warc_ts >= {t0} AND warc_ts < {t1}")


def _lang_ts_window(rng, w):
    t0, t1 = w.bounds(rng, 0.98, empty_p=0.1)
    return _same(f"SELECT lang, count(*) AS n, min(warc_ts) AS first_ts, "
                 f"max(warc_ts) AS last_ts FROM pages "
                 f"WHERE warc_ts >= {t0} AND warc_ts < {t1} GROUP BY lang")


def _filter_aggs(rng, w):
    lang = LANGS[int(rng.integers(len(LANGS)))]
    return _same(f"SELECT count(*) FILTER (WHERE lang = '{lang}') AS n_lang, "
                 f"count(*) FILTER (WHERE warc_ts < {w.cut(rng)}) AS n_before, "
                 f"count(html) AS n_html FROM pages")


# -- fallback (scan) templates, narrow to wide projections -----------------

def _proj_lang_window(rng, w):
    t0, t1 = w.bounds(rng, 0.5)
    lang = LANGS[int(rng.integers(len(LANGS)))]
    return _same(f"SELECT url, warc_ts FROM pages WHERE warc_ts >= {t0} "
                 f"AND warc_ts < {t1} AND lang = '{lang}'")


def _proj_url_prefix(rng, w):
    host = int(rng.integers(2, 60))
    tok = PATH_TOKENS[int(rng.integers(len(PATH_TOKENS)))]
    return _same(f"SELECT url, warc_ts, lang FROM pages "
                 f"WHERE url LIKE 'https://host{host}.example.com/{tok}%'")


def _proj_all_window(rng, w):
    t0, t1 = w.bounds(rng, 0.01)
    return _same(f"SELECT * FROM pages WHERE warc_ts >= {t0} AND warc_ts < {t1}")


def _html_len_by_lang(rng, w):
    t0, t1 = w.bounds(rng, 0.98)
    body = ("SELECT lang, count(html) AS n, sum({blen}(html)) AS html_bytes, "
            "avg(length(text)) AS avg_chars FROM pages "
            f"WHERE warc_ts >= {t0} AND warc_ts < {t1} GROUP BY lang")
    return body.format(blen="length"), body.format(blen="octet_length")


ROUTED = {"count_all": _count_all, "count_window": _count_window,
          "lang_ts_window": _lang_ts_window, "filter_aggs": _filter_aggs}
SCAN = {"proj_lang_window": _proj_lang_window, "proj_url_prefix": _proj_url_prefix,
        "proj_all_window": _proj_all_window, "html_len_by_lang": _html_len_by_lang}


def stream(templates: dict, seed: int, window: Window, n: int) -> list[dict]:
    """``n`` statements, round-robin over ``templates``, parameters from
    ``seed``."""
    rng = np.random.default_rng([seed, len(templates)])
    names = list(templates)
    out = []
    for i in range(n):
        name = names[i % len(names)]
        spark_sql, duck_sql = templates[name](rng, window)
        out.append({"template": name, "sql": spark_sql, "oracle_sql": duck_sql})
    return out


# -- oracle ----------------------------------------------------------------

def _norm(v):
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def _key(row: tuple) -> tuple:
    """Sort key that tolerates float noise and NULLs."""
    return tuple((0, "") if v is None else
                 (1, round(v, 6)) if isinstance(v, float) else
                 (2, repr(v)) for v in row)


def _row_equal(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality of two result sets; floats compare with a
    tolerance."""
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(got) != len(want):
        return False
    if not any(isinstance(v, float) for r in got for v in r):
        return Counter(got) == Counter(want)
    return all(_row_equal(a, b) for a, b in zip(got, want))


class Oracle:
    """DuckDB over the source Parquet, one answer per distinct statement."""

    def __init__(self, src_parquet: str, temp_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 2")
        self.con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{src_parquet}')")
        self.cache: dict[str, list[tuple]] = {}

    def rows(self, duck_sql: str) -> list[tuple]:
        if duck_sql not in self.cache:
            self.cache[duck_sql] = self.con.execute(duck_sql).fetchall()
        return self.cache[duck_sql]

    def close(self) -> None:
        self.con.close()
