"""Seeded load generator for the benchmark.

Everything a run feeds the program comes from here, derived from one
integer seed: the analytics tables, the mediacounts day dumps, the
recorded category-membership pages and the op sequence of each
workload. The ground truth each op is checked against is computed here
too, in pure Python, without the engine.

Files are written with fixed settings so that the same seed gives
byte-identical files; :func:`checksum` hashes them and the run output
records the digest.
"""

from __future__ import annotations

import bz2
import datetime as dt
import hashlib
import itertools
import json
import os
import random
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- common


def checksum(root: str) -> str:
    """sha256 over every file under ``root``: relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", store_schema=False)


# ------------------------------------------------------ analytics tables

#: Row counts of the analytics tables: the sf0.1 shape of the repo's
#: TPC-H-like testdata (TESTDATA.md), regenerated from the seed.
ANALYTICS_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with exactly two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    day = np.int64(86_400_000_000)
    return base + rng.integers(0, n_days, n).astype(np.int64) * day


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def write_analytics_tables(seed: int, out_dir: str) -> None:
    """The ten tables the registry keys read, at the sf0.1 row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = ANALYTICS_ROWS
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(
                ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
            ),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n["customer"]), f64),
            "c_mktsegment": _pick(
                rng,
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n["supplier"]), f64),
        },
    }
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n["part"]), i64),
        "p_name": _pick(rng, [f"{a} {b}" for a in adjectives for b in nouns], n["part"]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
        "p_type": _pick(
            rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
        ),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": pa.array(_cents(rng, 900.0, 999.9, n["part"]), f64),
    }
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, n["orders"]), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n["orders"])),
        "o_orderpriority": _pick(
            rng,
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"],
        ),
    }
    m = n["lineitem"]
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64), f64),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, m), f64),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, m)),
    }
    e = n["events"]
    # Distinct microsecond timestamps over January 2024.
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, e, replace=False)) + np.datetime64(
        "2024-01-01", "us"
    ).astype(np.int64)
    tables["events"] = {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    }
    d = n["documents"]
    lengths = rng.integers(10, 101, d)
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # A few exact copies for the content-hash dedup key.
    for i in rng.choice(d, 8, replace=False):
        texts[i] = texts[(i + 1) % d]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(d), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, ["de", "en", "en", "en", "es", "fr", "zh"], d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    }
    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    }
    for name, cols in tables.items():
        _write_parquet(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


#: The ten `bench.py` HEADLINE keys, named here so that an edit to
#: bench.py cannot change the workload.
HEADLINE_KEYS = (
    "agg_multi",
    "agg_daily_playcount",
    "join_shuffle_equi",
    "join_broadcast_dim",
    "win_rolling_30d",
    "agg_pivot",
    "dedup_exact_hash",
    "text_tokenize_wordcount",
    "sim_topk_probe",
    "join_asof",
)


def analytics_sequence(seed: int, n_rounds: int) -> list[str]:
    """Round-robin over the headline keys, one seeded order per round."""
    rng = random.Random(seed * 7 + 3)
    seq: list[str] = []
    for _ in range(n_rounds):
        keys = list(HEADLINE_KEYS)
        rng.shuffle(keys)
        seq.extend(keys)
    return seq


# ----------------------------------------------------- mediacounts dumps

_MEDIA_EXT = ("ogg", "oga", "ogv", "webm", "wav", "flac", "mid")
_OTHER_EXT = ("jpg", "png", "svg", "pdf", "tif")
_NAME_WORDS = (
    "Bird song Concert Etude Anthem Fanfare Dance clip Accordion solo Organ "
    "Choir Rain Thunder Speech Lecture Interview Market Street Harbour "
    "Tram Bells River Forest Night Morning Chorale Prelude Sonata March"
).split()
_ACCENTED = ("Café", "Größe", "Jalapeño", "Ångström", "Smörgås")


def _file_name(rng: random.Random, i: int) -> str:
    """A media title with spaces, some parentheses and non-ASCII letters.

    Titles carry no underscore: the API maps underscores in a request
    to spaces, so a title is requested with underscores for spaces.
    """
    words = [rng.choice(_NAME_WORDS) for _ in range(rng.randint(1, 3))]
    if i % 7 == 0:
        words.append(rng.choice(_ACCENTED))
    if i % 5 == 0:
        words.append("(live)")
    return " ".join(words) + f" {i:05d}.{_MEDIA_EXT[i % len(_MEDIA_EXT)]}"


_RESERVED_12 = "\t".join(["-"] * 12)
_RESERVED_7 = "\t".join(["-"] * 7)


def _dump_line(path: str, plays: tuple[int, int, int], corrupt: bool) -> str:
    """26 tab-separated columns; a corrupt line has a word where the
    original-transfers count belongs."""
    orig, audio, video = plays
    total = orig + audio + video
    return (
        f"{path}\t{total * 4096 + 17}\t{total + 3}\t{'oops' if corrupt else orig}"
        f"\t{_RESERVED_12}\t{audio}\t-\t{video}\t{_RESERVED_7}"
    )


#: Lines per day dump: the real dump's ~10^7 rows a day (SURVEY.md,
#: BASELINE.md) scaled down 2,000 times. At this size the data-dependent
#: part of the set-up ingest (scan, parse, aggregate, write) outweighs its
#: fixed per-job part; see DESIGN.md.
ROWS_PER_DAY = 5_000
#: One day dump in three is ``.tsv.bz2``, as the reference downloads
#: them; the others are plain ``.tsv``.
BZ2_EVERY = 3
#: Share of a dump's lines that name media files; the rest name images,
#: which the ingest filters out.
MEDIA_SHARE = 0.7
#: Zipf exponent of file popularity, for the dumps and for the requests.
#: The repo calls media popularity Zipfian (SURVEY.md, SCALE.md) without
#: naming an exponent; 1 is Zipf's law in its standard form.
ZIPF_S = 1.0


def zipf_weights(n: int) -> list[float]:
    return [1.0 / (r + 1) ** ZIPF_S for r in range(n)]


class Dumps:
    """Generated mediacounts day dumps plus their pure-Python truth.

    ``truth[day][file]`` is the summed plays of a media file on a day,
    over well-formed lines only; ``corrupt[day]`` counts the malformed
    lines and ``lines[day]`` all lines of the dump.
    """

    def __init__(self) -> None:
        self.paths: dict[str, str] = {}
        self.truth: dict[str, dict[str, int]] = {}
        self.corrupt: dict[str, int] = {}
        self.lines: dict[str, int] = {}


def write_dumps(seed: int, out_dir: str, files: list[str], days: list[str]) -> Dumps:
    """One dump per day: Zipf-popular media rows, non-media rows, some
    duplicate rows of a file, and a fixed share (1%) of corrupt lines.
    Days ``1, 1 + BZ2_EVERY, ...`` are written as ``.tsv.bz2``."""
    os.makedirs(out_dir, exist_ok=True)
    out = Dumps()
    n_media = int(ROWS_PER_DAY * MEDIA_SHARE)
    weights = zipf_weights(len(files))
    paths = [
        f"/wikipedia/commons/{fi % 16:x}/{fi % 251:02x}/" + quote(name)
        for fi, name in enumerate(files)
    ]
    for di, day in enumerate(days):
        rng = random.Random(f"{seed}/dump/{day}")
        rand = rng.random
        picked = rng.choices(range(len(files)), weights=weights, k=n_media)
        truth: dict[str, int] = {}
        lines = []
        n_bad = 0
        for j, fi in enumerate(picked):
            name = files[fi]
            plays = (int(rand() * 41), int(rand() * 26), int(rand() * 26))
            bad = j % 100 == 37
            lines.append(_dump_line(paths[fi], plays, bad))
            if bad:
                n_bad += 1
            else:
                truth[name] = truth.get(name, 0) + sum(plays)
        for j in range(ROWS_PER_DAY - n_media):
            ext = _OTHER_EXT[j % len(_OTHER_EXT)]
            path = f"/wikipedia/commons/{j % 16:x}/{j % 253:02x}/Image%20{j}.{ext}"
            lines.append(_dump_line(path, (int(rand() * 91), 0, 0), False))
        rng.shuffle(lines)
        body = ("\n".join(lines) + "\n").encode("utf-8")
        name = f"mediacounts.{day}.v00.tsv"
        if di % BZ2_EVERY == 1:
            name += ".bz2"
            body = bz2.compress(body, 1)
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(body)
        out.paths[day] = path
        out.truth[day] = truth
        out.corrupt[day] = n_bad
        out.lines[day] = len(lines)
    return out


def day_list(start: str, n: int) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]


def media_files(seed: int, n: int) -> list[str]:
    rng = random.Random(f"{seed}/files")
    return [_file_name(rng, i) for i in range(n)]


# -------------------------------------------------- category membership


#: The one root category the category routes ask for. Its tree has the
#: shapes the snapshot's walk must handle: three subcategories, one of
#: which links back to the root, and every listing split over two pages.
ROOT = "Category:Field recordings"
#: Files listed in each of the four categories.
FILES_PER_CATEGORY = 8


def write_categories(seed: int, path: str, files: list[str]) -> set[str]:
    """Recorded categorymembers pages of :data:`ROOT`'s tree, one JSON
    object per line, as the MediaWiki API returns them.

    Returns the ground truth: the member files within five hops, the
    default depth of ``build_membership_snapshot``.
    """
    rng = random.Random(f"{seed}/categories")
    pageid = iter(range(1, 10**9))
    subs = [f"{ROOT} - part {k}" for k in range(3)]
    children = {ROOT: subs, subs[0]: [ROOT]}  # a cycle back to the root
    members = {cat: rng.sample(files, FILES_PER_CATEGORY) for cat in [ROOT, *subs]}
    with open(path, "w", encoding="utf-8") as f:
        for cat in sorted(members):
            entries = [
                {"pageid": next(pageid), "ns": 6, "title": f"File:{m}"}
                for m in members[cat]
            ] + [
                {"pageid": next(pageid), "ns": 14, "title": c}
                for c in children.get(cat, [])
            ]
            half = len(entries) // 2  # two pages: cmcontinue pagination
            for page in (entries[:half], entries[half:]):
                rec = {
                    "category": cat,
                    "response": {"batchcomplete": "", "query": {"categorymembers": page}},
                }
                f.write(json.dumps(rec, ensure_ascii=False, sort_keys=True) + "\n")
    # Every category is within one hop of the root.
    return {m for ms in members.values() for m in ms}


# ------------------------------------------------------- serve requests

ROUTES = (
    ("FilePlaycount", "date_range"),
    ("FilePlaycount", "last_30"),
    ("FilePlaycount", "last_90"),
    ("CategoryPlaycount", "date_range"),
    ("CategoryPlaycount", "last_30"),
    ("CategoryPlaycount", "last_90"),
)


def _title_in_url(name: str) -> str:
    # The reference's URLs use underscores for spaces; the rest is
    # percent-encoded as a client would send it.
    return quote(name.replace(" ", "_"), safe="_():")


def serve_sequence(
    seed: int, n: int, files: list[str], days: list[str]
) -> list[tuple[str, str, str, str, str]]:
    """``n`` requests in blocks of six, each block one request per
    route in a seeded order. Files are Zipf-popular. A ``date_range``
    request covers 7, 14, 30 or 60 days, in turn, from a seeded start
    inside the served days, so every seed asks for the same amount of
    work. Items: (route, path, name, start, end)."""
    rng = random.Random(f"{seed}/serve")
    weights = zipf_weights(len(files))
    spans = itertools.cycle((7, 14, 30, 60))
    out = []
    while len(out) < n:
        block = list(ROUTES)
        rng.shuffle(block)
        for surface, action in block:
            if surface == "FilePlaycount":
                name = rng.choices(files, weights=weights)[0]
            else:
                name = ROOT
            start = end = ""
            path = f"/api/1/{surface}/{action}/{_title_in_url(name)}"
            if action == "date_range":
                span = next(spans)
                i = rng.randint(0, len(days) - span)
                start, end = days[i], days[i + span - 1]
                path += f"/{start}/{end.replace('-', '')}"
            out.append((f"{surface}.{action}", path, name, start, end))
    return out[:n]


def expected_payload(
    truth: dict[str, dict[str, int]],
    names: set[str] | list[str],
    start: str,
    end: str,
) -> dict:
    """Zero-filled per-day series summed over ``names``, [start, end]."""
    d0, d1 = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
    counts = []
    while d0 <= d1:
        day = d0.isoformat()
        per = truth.get(day, {})
        counts.append([day, sum(per.get(f, 0) for f in names)])
        d0 += dt.timedelta(days=1)
    return {"total": sum(c for _, c in counts), "counts": counts}
