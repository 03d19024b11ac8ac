"""Seeded generator for the AMPLab big-data-benchmark inputs.

Writes ``rankings`` and ``uservisits`` as headerless, unquoted,
gzip-compressed CSV part files, the layout and one of the encodings the
reference job reads from an S3 prefix (README.md:131). The same seed
always gives the same bytes: every value comes from one NumPy ``PCG64``
stream, consumed in a fixed order, lines are assembled with Arrow
compute kernels, and the gzip header carries no name or time. It runs
in a single process.

Shapes, following FIXTURES.md sections 11-12:

- ``rankings``: ``pageURL,pageRank,avgDuration``. ``pageRank`` is
  Pareto (scale 19.3, shape 2), fitted to the result sizes published
  with the AMPLab big data benchmark: 32,888 rows for query 1a
  (``pageRank > 1000``) and 3,331,851 for 1b (``pageRank > 100``) out of
  about 90M ``rankings`` rows, i.e. 0.037% and 3.7%. The fit keeps
  0.037% and 3.65%.
- ``uservisits``: nine columns, ``adRevenue`` with four decimals.
  Source IPs are uniform, so ``substr(sourceIP, 1, 8)`` (query 2a)
  yields hundreds of thousands of groups. About 0.5% of lines are
  malformed in the two ways the reference mapper drops
  (``mapper.py:48-57``): too few fields, or a non-numeric revenue.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

FORMAT_VERSION = 4
MALFORMED_SHARE = 0.005
RANKINGS_PER_VISIT = 0.25
# Pareto scale of pageRank (see the module docstring)
PAGERANK_SCALE = 19.3

_AGENTS = [
    f"Mozilla/5.0 (X11; Linux x86_64) Agent/{i}.{j}" for i in range(8) for j in range(3)
]
_COUNTRIES = [
    "USA", "GBR", "DEU", "FRA", "JPN", "CHN", "IND", "BRA", "CAN", "AUS",
    "MEX", "ESP", "ITA", "KOR", "RUS", "NLD", "SWE", "POL", "TUR", "ARG",
]
_LANGS = [f"{c[:2]}-{c}" for c in _COUNTRIES]
_WORDS = [f"w{a}{b}" for a in "abcdefghijklmnopqrstuvwxyz" for b in range(40)]


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _pick(rng: np.random.Generator, vocab: list[str], n: int) -> pa.Array:
    return pa.array(vocab).take(pa.array(rng.integers(0, len(vocab), n)))


def _write_lines(path: str, cols: list[pa.Array]) -> int:
    """Join ``cols`` with commas, end each line with a newline and
    write the lines gzip-compressed. Returns the uncompressed size."""
    lines = pc.binary_join_element_wise(*cols, ",")
    lines = pc.binary_join_element_wise(lines, pa.scalar(""), "\n")
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    start, end = int(offsets[lines.offset]), int(offsets[lines.offset + len(lines)])
    data = lines.buffers()[2]
    # wbits 31: a gzip stream with a zeroed header (no name, no mtime)
    gz = zlib.compressobj(1, zlib.DEFLATED, 31)
    with open(path, "wb") as fh:
        fh.write(gz.compress(memoryview(data)[start:end]))
        fh.write(gz.flush())
    return end - start


def _rankings_part(
    rng: np.random.Generator, first: int, n: int
) -> tuple[list[pa.Array], np.ndarray]:
    """One part's lines and its rows matching queries 1a and 1b."""
    ids = np.arange(first, first + n)
    url = pc.binary_join_element_wise(
        "http://site", _str(ids % 9973), ".example.com/page/", _str(ids), ""
    )
    rank = np.floor(PAGERANK_SCALE * (1.0 + rng.pareto(2.0, n))).astype(np.int64)
    duration = rng.integers(1, 100, n)
    return [url, _str(rank), _str(duration)], np.array([(rank > 1000).sum(), (rank > 100).sum()])


def _uservisits_part(
    rng: np.random.Generator, n: int, n_pages: int
) -> tuple[list[pa.Array], int, pa.Array]:
    """One part's lines, its malformed count and the 2a group keys of
    its well-formed rows."""
    octets = [rng.integers(lo, 256, n) for lo in (1, 0, 0, 0)]
    ip = pc.binary_join_element_wise(*[_str(o) for o in octets], ".")
    page = rng.integers(0, n_pages, n)
    url = pc.binary_join_element_wise(
        "http://site", _str(page % 9973), ".example.com/page/", _str(page), ""
    )
    day = np.datetime64("2000-01-01") + rng.integers(0, 3650, n).astype("timedelta64[D]")
    date = _str(np.datetime_as_string(day, unit="D"))
    cents = rng.integers(1, 1_000_000, n)
    revenue = pc.binary_join_element_wise(
        _str(cents // 10_000), pc.utf8_lpad(_str(cents % 10_000), 4, "0"), "."
    )
    agent = _pick(rng, _AGENTS, n)
    country = _pick(rng, _COUNTRIES, n)
    lang = _pick(rng, _LANGS, n)
    word = _pick(rng, _WORDS, n)
    duration = _str(rng.integers(1, 100, n))

    kind = rng.random(n)
    short = kind < MALFORMED_SHARE / 2
    bad_number = (kind >= MALFORMED_SHARE / 2) & (kind < MALFORMED_SHARE)
    revenue = pc.if_else(pa.array(bad_number), pa.scalar("NOTANUMBER"), revenue)
    line = pc.binary_join_element_wise(
        ip, url, date, revenue, agent, country, lang, word, duration, ","
    )
    line = pc.if_else(
        pa.array(short), pc.binary_join_element_wise(ip, pa.scalar("brokenrow"), ","), line
    )
    keys = pc.utf8_slice_codeunits(ip.filter(pa.array(kind >= MALFORMED_SHARE)), 0, 8)
    return [line], int(short.sum() + bad_number.sum()), keys


def generate(out_dir: str, seed: int, visits: int, parts: int) -> dict:
    """Write both tables under ``out_dir`` and return their record.

    ``out_dir/meta.json`` is written last, so a directory without it is
    an interrupted generation and is rebuilt.
    """
    shutil.rmtree(out_dir, ignore_errors=True)
    rng = np.random.default_rng(seed)
    n_rank = int(visits * RANKINGS_PER_VISIT)
    meta: dict = {"seed": seed, "format_version": FORMAT_VERSION}
    tables = {
        "rankings": (n_rank, max(1, parts // 4)),
        "uservisits": (visits, parts),
    }
    for name, (rows, n_parts) in tables.items():
        os.makedirs(os.path.join(out_dir, name))
        size = malformed = first = 0
        keys: list[pa.Array] = []
        selected = np.zeros(2, dtype=np.int64)
        for p in range(n_parts):
            n = rows // n_parts + (1 if p < rows % n_parts else 0)
            if name == "rankings":
                cols, part_selected = _rankings_part(rng, first, n)
                selected += part_selected
                bad = 0
            else:
                cols, bad, part_keys = _uservisits_part(rng, n, n_rank)
                keys.append(part_keys)
            size += _write_lines(os.path.join(out_dir, name, f"part-{p:05d}.csv.gz"), cols)
            malformed += bad
            first += n
        meta[name] = {
            "bytes": size,
            "gz_bytes": sum(
                os.path.getsize(os.path.join(out_dir, name, f))
                for f in os.listdir(os.path.join(out_dir, name))
            ),
            "rows": rows,
            "files": n_parts,
            "malformed_rows": malformed,
            "malformed_share": malformed / rows,
        }
        if name == "rankings":
            meta[name]["share_1a"] = int(selected[0]) / rows
            meta[name]["share_1b"] = int(selected[1]) / rows
        if keys:
            groups = len(pa.chunked_array(keys).unique())
            meta[name]["groups_2a"] = groups
            meta[name]["groups_per_row"] = groups / (rows - malformed)
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    return _with_paths(meta, out_dir)


def _with_paths(meta: dict, out_dir: str) -> dict:
    for name in ("rankings", "uservisits"):
        meta[name]["path"] = os.path.join(out_dir, name)
    return meta


def cached(cache_dir: str, seed: int, visits: int, parts: int, keep: int = 2) -> dict:
    """Return the record of the inputs for ``seed``, generating them
    under ``cache_dir`` on a miss. At most ``keep`` seeds stay cached;
    the least recently used are deleted."""
    key = f"amplab-v{FORMAT_VERSION}-n{visits}-p{parts}-s{seed}"
    out_dir = os.path.join(cache_dir, key)
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        os.utime(meta_path)
        with open(meta_path) as fh:
            return _with_paths(json.load(fh), out_dir)
    os.makedirs(cache_dir, exist_ok=True)
    others = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir) if d != key),
        key=lambda d: os.path.getmtime(os.path.join(d, "meta.json"))
        if os.path.exists(os.path.join(d, "meta.json"))
        else 0.0,
    )
    for stale in others[: max(0, len(others) - (keep - 1))]:
        shutil.rmtree(stale, ignore_errors=True)
    return generate(out_dir, seed, visits, parts)
