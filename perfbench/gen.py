"""Seeded input generator for the benchmark — independent of rotel_spark.

Everything here is numpy/pyarrow; nothing imports the program. The seed
drives the document draw, log-line fields, row order and file layout,
duplicate placement and (via ``stream_schedule``) stream arrival jitter.
Each table carries ground-truth columns (``fmt``/``status``/``level``/
``prio``) from which ``oracle.py`` derives the expected per-sink counts.

Log-line shapes (one per ``fmt``):
  0  nginx combined   ``addr - user [dd/Dec/2025:HH:MM:SS +0000] "GET /p HTTP/1.1" 200 512 "-" "ua"``
  1  nginx error      ``2025/12/dd HH:MM:SS [level] pid#tid: *cid message``
  2  JSON access      ``{"remote_addr":..,"status":..,"request":..,"time":..,"bytes":..}``
  3  kmsg             ``prio,seq,usec;kernel: message``
  9  garbage          ``%%corrupt <hex>`` (exactly 5 % of rows: unparseable by design)
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_EPOCH = 1764547200  # 2025-12-01 00:00:00 UTC
GARBAGE_SHARE = 0.05
# Field shares follow the repo's pages fixture (rotel_spark/fixtures.py,
# pages_tail_clause), drawn at random instead of by page_id modulus.
# format mix of the parseable 95 %: combined, error, json, kmsg
FMT_SHARES = ((0, 0.70), (1, 0.10), (2, 0.10), (3, 0.05))
# each entry is drawn with equal probability: error 40 %, warn/notice/crit 20 %
LEVELS = np.array(["error", "warn", "notice", "error", "crit"])
# status → share: 200 65 %, 301 10 %, 403 5 %, 404 10 %, 500 5 %, 503 5 %
STATUSES = np.array([200, 301, 403, 404, 500, 503])
STATUS_P = np.array([0.65, 0.10, 0.05, 0.10, 0.05, 0.05])
METHODS = np.array(["GET", "POST", "PUT"])
AGENTS = np.array(["curl/7.68.0", "Mozilla/5.0", "Googlebot/2.1", "-"])
USERS = np.array(["alice", "bob", "-", "-", "-"])
# the TLD registry's seven entries (fixtures.TLD_ROWS), equally likely
TLDS = np.array(["com", "org", "net", "io", "de", "jp", "dev"])
LANGS = np.array(["en", "de", "es", "fr", "zh", "ja", "pt"])
MONTH_DAYS = 28
VOCAB_WORDS = 6000
PAGE_FILES = 16  # parquet files of a pages table (scan tasks)
NEAR_SHARE = 0.3  # share of corpus base documents with a near-duplicate


def _s(a) -> pa.Array:
    """numpy → arrow string array."""
    arr = pa.array(a)
    return arr if pa.types.is_string(arr.type) else pc.cast(arr, pa.string())


def _pad2(a: np.ndarray) -> pa.Array:
    return pc.utf8_lpad(_s(a), 2, "0")


def _cat(*parts) -> pa.Array:
    """Element-wise concatenation of arrow arrays and python scalars."""
    return pc.binary_join_element_wise(*parts, "")


def vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB_WORDS random lowercase pseudo-words (3-9 letters), all distinct."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: set[str] = set()
    while len(words) < VOCAB_WORDS:
        ln = int(rng.integers(3, 10))
        words.add(letters[rng.integers(0, 26, ln)].tobytes().decode())
    return np.array(sorted(words))


def random_texts(
    rng: np.random.Generator, n_words: int, n: int, lo: int, hi: int
) -> tuple[np.ndarray, np.ndarray]:
    """n documents as (offsets, word indices) with lengths in [lo, hi)."""
    offsets = np.zeros(n + 1, dtype=np.int64)
    offsets[1:] = np.cumsum(rng.integers(lo, hi, n))
    return offsets, rng.integers(0, n_words, int(offsets[-1]))


def _join_words(vocab: np.ndarray, offsets: np.ndarray, flat: np.ndarray) -> pa.Array:
    words = pa.array(vocab).take(pa.array(flat))
    lists = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), words)
    return pc.binary_join(lists, " ")


def log_fields(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Ground-truth fields for n log lines; exactly 5 % garbage."""
    fmt = np.full(n, 9, dtype=np.int32)
    n_ok = n - int(round(n * GARBAGE_SHARE))
    start = 0
    for i, (code, share) in enumerate(FMT_SHARES):
        k = n_ok - start if i == len(FMT_SHARES) - 1 else int(n_ok * share / 0.95)
        fmt[start : start + k] = code
        start += k
    rng.shuffle(fmt)
    return {
        "fmt": fmt,
        "status": rng.choice(STATUSES, n, p=STATUS_P).astype(np.int32),
        "level": LEVELS[rng.integers(0, len(LEVELS), n)],
        "prio": rng.integers(0, 8, n).astype(np.int32),
        "ts_sec": BASE_EPOCH
        + rng.integers(0, MONTH_DAYS * 86400, n).astype(np.int64),
        "aux": rng.integers(0, 1 << 30, n).astype(np.int64),
    }


def log_lines(g: dict[str, np.ndarray]) -> pa.Array:
    """Render the log line of every row from its ground-truth fields."""
    ts = g["ts_sec"] - BASE_EPOCH
    day, hour = ts // 86400 + 1, ts % 86400 // 3600
    minute, sec = ts % 3600 // 60, ts % 60
    aux = g["aux"]
    hms = _cat(_pad2(hour), ":", _pad2(minute), ":", _pad2(sec))
    path = _cat("/api/v", _s(aux % 3), "/items/", _s(aux % 997))
    addr = _cat("10.", _s(aux % 250), ".", _s(aux % 241), ".", _s(aux % 239 + 1))
    nbytes = _s(aux % 4096 + 128)
    status = _s(g["status"])
    method = _s(METHODS[aux % 3])
    combined = _cat(
        addr, " - ", _s(USERS[aux % 5]), " [", _pad2(day), "/Dec/2025:", hms,
        ' +0000] "', method, " ", path, ' HTTP/1.1" ', status, " ", nbytes,
        ' "-" "', _s(AGENTS[aux % 4]), '"',
    )
    error = _cat(
        "2025/12/", _pad2(day), " ", hms, " [", _s(g["level"]), "] ",
        _s(aux % 9999 + 1), "#", _s(aux % 97), ": *", _s(aux % 7777),
        " upstream timed out while reading ", path,
    )
    jsonl = _cat(
        '{"remote_addr":"', addr, '","status":', status, ',"request":"',
        method, " ", path, '","time":', _s(g["ts_sec"]), ',"bytes":',
        nbytes, "}",
    )
    kmsg = _cat(
        _s(g["prio"]), ",", _s(aux % 100000), ",", _s(g["ts_sec"] * 1000000),
        ";kernel: device event ", _s(aux % 13),
    )
    garbage = _cat("%%corrupt ", _s(aux * 2654435761 % (1 << 32)))
    out = garbage
    for code, arr in ((0, combined), (1, error), (2, jsonl), (3, kmsg)):
        out = pc.if_else(pa.array(g["fmt"] == code), arr, out)
    return out


def pages_table(rng: np.random.Generator, n: int, vocab: np.ndarray) -> pa.Table:
    """The Common-Crawl-shaped pages table with an embedded log line in
    every page's html, plus ground-truth columns."""
    g = log_fields(rng, n)
    page_id = np.arange(n, dtype=np.int64)
    u = rng.random(n)
    host = pc.if_else(
        pa.array(u < 0.39), "cdn-hotmedia",
        pc.if_else(pa.array(u < 0.56), "www-bigshop",
                   _cat("site", _s(rng.integers(0, 89, n)))),
    )
    tld = TLDS[rng.integers(0, len(TLDS), n)]
    domain = _cat(host, ".", _s(tld))
    text = _join_words(vocab, *random_texts(rng, len(vocab), n, 12, 40))
    line = log_lines(g)
    html = pc.cast(
        _cat(
            "<html><head><title>p", _s(page_id), "</title></head><body><p>",
            text, "</p><!--log:", line, "--></body></html>",
        ),
        pa.binary(),
    )
    # ~1 % of pages carry invalid UTF-8 after the closing tag
    bad = pa.array(rng.random(n) < 0.01)
    html = pc.if_else(bad, pc.binary_join_element_wise(html, b"\xff\xfe\x80", b""), html)
    warc = BASE_EPOCH + rng.integers(0, 30 * 86400, n)
    return pa.table(
        {
            "page_id": page_id,
            "url": _cat("https://", domain, "/p/", _s(page_id)),
            "domain": domain,
            "warc_ts": pa.array(warc * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": html,
            "text": text,
            "lang": _s(LANGS[rng.integers(0, len(LANGS), n)]),
            "fmt": g["fmt"],
            "status": g["status"],
            "level": _s(g["level"]),
            "prio": g["prio"],
        }
    )


def write_files(table: pa.Table, out_dir: str, n_files: int, rng) -> None:
    """Shuffle rows and spread them over n_files parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="snappy")


def make_pages(path: str, seed: int, rows: int) -> None:
    """Pages table split by page_id into ``h0`` (first half) and ``h1``:
    the lineage job commits ``h0`` as batch b0, then re-drives over
    ``h*``; bulk_routed reads both halves as one table."""
    rng = np.random.default_rng(seed)
    table = pages_table(rng, rows, vocabulary(rng))
    half = rows // 2
    write_files(table.slice(0, half), os.path.join(path, "h0"), PAGE_FILES // 2, rng)
    write_files(table.slice(half), os.path.join(path, "h1"), PAGE_FILES // 2, rng)


def make_corpus(path: str, seed: int, clusters: int, dup_factor: int) -> dict:
    """Dedup corpus: ``clusters`` base documents, ``NEAR_SHARE`` of them
    with one near-duplicate variant (one word replaced: 3-shingle
    Jaccard ≥ 0.85), and every distinct text repeated ``dup_factor``
    times under distinct, randomly placed doc_ids."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng)
    offsets, flat = random_texts(rng, len(vocab), clusters, 40, 60)
    # variant = copy of its base with one inner word swapped for another
    picked = np.flatnonzero(rng.random(clusters) < NEAR_SHARE)
    lens = np.diff(offsets)[picked]
    v_off = np.zeros(len(picked) + 1, dtype=np.int64)
    v_off[1:] = np.cumsum(lens)
    v_flat = np.concatenate([flat[offsets[i] : offsets[i + 1]] for i in picked])
    pos = v_off[:-1] + rng.integers(3, lens - 3)
    v_flat[pos] = (v_flat[pos] + rng.integers(1, len(vocab), len(picked))) % len(vocab)
    texts = _join_words(
        vocab, np.concatenate([offsets, v_off[1:] + offsets[-1]]),
        np.concatenate([flat, v_flat]),
    )
    n_docs = clusters + len(picked)
    idx = np.repeat(np.arange(n_docs), dup_factor)
    rng.shuffle(idx)
    table = pa.table(
        {"doc_id": np.arange(len(idx), dtype=np.int64), "text": texts.take(pa.array(idx))}
    )
    write_files(table, os.path.join(path, "docs"), 8, rng)
    pq.write_table(pa.table({"text": texts}), os.path.join(path, "distinct.parquet"))
    return {"rows": len(idx), "distinct": n_docs, "clusters": clusters}


def make_stream_lines(seed: int, n: int) -> pa.Table:
    """Pool of log lines + ground truth for the stream generator."""
    rng = np.random.default_rng(seed)
    g = log_fields(rng, n)
    return pa.table({
        "line": log_lines(g), "fmt": g["fmt"], "status": g["status"],
        "level": _s(g["level"]), "prio": g["prio"],
    })


def stream_schedule(seed: int, phases: list[dict]) -> list[dict]:
    """Open-loop publish schedule: per phase, files at ``rate`` files/s
    with ±20 % seeded inter-arrival jitter. Each entry: ``t`` (seconds
    after generator start), ``phase``."""
    rng = np.random.default_rng(seed + 7919)
    out, t = [], 0.0
    for ph in phases:
        end = t + ph["seconds"]
        gap = 1.0 / ph["rate"]
        while t < end:
            out.append({"t": round(t, 6), "phase": ph["name"]})
            t += gap * (0.8 + 0.4 * rng.random())
        t = end
    return out


def cached(root: str, key: str, build) -> tuple[str, float, dict]:
    """Run ``build(dir) -> meta`` once per key; returns (dir, prep_s,
    meta). A half-built directory (no ``_meta.json``) is rebuilt."""
    import time

    path = os.path.join(root, key)
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return path, 0.0, meta
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    meta = build(path) or {}
    meta["prep_s"] = time.perf_counter() - t0
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return path, meta["prep_s"], meta
