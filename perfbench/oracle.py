"""Independent expected outputs, computed in DuckDB from ground truth.

Nothing here runs the pipeline or imports rotel_spark. The severity
rule is written out from the documented format semantics (FIXTURES.md
§3): HTTP status for nginx/JSON lines (5xx → 17, 4xx → 13, else 9),
the nginx-error level name, and the kmsg syslog priority; garbage lines
(fmt 9) are dropped. Bands: ≥ 17 errors, ≥ 13 ops, else archive.
"""

from __future__ import annotations

import duckdb

from metrics import ROUTES

SEVERITY_SQL = """
CASE
  WHEN fmt IN (0, 2) THEN
    CASE WHEN status >= 500 THEN 17 WHEN status >= 400 THEN 13 ELSE 9 END
  WHEN fmt = 1 THEN
    CASE level WHEN 'emerg' THEN 21 WHEN 'alert' THEN 21 WHEN 'crit' THEN 21
               WHEN 'error' THEN 17 WHEN 'warn' THEN 13 WHEN 'notice' THEN 10
               WHEN 'info' THEN 9 WHEN 'debug' THEN 5 END
  WHEN fmt = 3 THEN
    CASE prio WHEN 0 THEN 21 WHEN 1 THEN 21 WHEN 2 THEN 21 WHEN 3 THEN 17
              WHEN 4 THEN 13 WHEN 5 THEN 10 WHEN 6 THEN 9 ELSE 5 END
END"""

BAND_SQL = f"""
SELECT CASE WHEN fmt = 9 THEN 'garbage'
            WHEN sev >= 17 THEN 'errors'
            WHEN sev >= 13 THEN 'ops'
            ELSE 'archive' END AS band
FROM (SELECT fmt, {SEVERITY_SQL} AS sev FROM src)"""


def band_counts(con: duckdb.DuckDBPyConnection, relation: str) -> dict[str, int]:
    """{errors, ops, archive, garbage, rows} for a relation with
    fmt/status/level/prio columns."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW src AS {relation}")
    got = dict(con.execute(f"SELECT band, count(*) FROM ({BAND_SQL}) GROUP BY band").fetchall())
    out = {b: int(got.get(b, 0)) for b in (*ROUTES, "garbage")}
    out["rows"] = sum(out.values())
    return out


def row_bands(con: duckdb.DuckDBPyConnection, relation: str) -> list[str]:
    """The band of every row of the relation, in row order."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW src AS {relation}")
    return [r[0] for r in con.execute(BAND_SQL).fetchall()]


def pages_expected(pages_dir: str) -> dict[str, dict[str, int]]:
    """Expected band counts for each half of the pages table, the whole
    table and its first file (the warm-up slice)."""
    con = duckdb.connect()
    out = {}
    for key, glob in (("h0", "h0/*.parquet"), ("h1", "h1/*.parquet"), ("all", "h*/*.parquet"),
                      ("warm", "h0/part-00000.parquet")):
        out[key] = band_counts(
            con, f"SELECT fmt, status, level, prio FROM read_parquet('{pages_dir}/{glob}')"
        )
    con.close()
    return out


def sink_expected(bands: dict[str, int]) -> dict[str, int]:
    """Per-sink rows of the fan-out job: three routed sinks, the
    broadcast sink (every parsed row) and the quarantine sink."""
    return {
        **{r: bands[r] for r in ROUTES},
        "all": bands["errors"] + bands["ops"] + bands["archive"],
        "_quarantine": bands["garbage"],
    }


def near_dup_survivors(distinct_parquet: str, threshold: float) -> int:
    """Survivor count of the exact-Jaccard greedy rule (the rule of the
    ``minhash_dedup`` oracle query): over the distinct texts, every pair
    whose word-3-shingle sets have Jaccard ≥ threshold (lengths within
    4:5) drops its higher id. Pairs sharing no shingle have Jaccard 0,
    so candidate pairs come from shared shingles, not all pairs.
    Shingles are encoded exactly as integers (word ids in base V)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    texts = pq.read_table(distinct_parquet).column("text").combine_chunks()
    words = pc.split_pattern_regex(pc.utf8_lower(pc.utf8_trim_whitespace(texts)), r"\s+")
    lens = np.asarray(pc.list_value_length(words), dtype=np.int64)
    enc = pc.dictionary_encode(pc.list_flatten(words))
    w = np.asarray(enc.indices, dtype=np.int64)
    v = len(enc.dictionary)
    doc = np.repeat(np.arange(len(lens)), lens)
    # a shingle starts at every position with two more words in its doc
    start = np.arange(len(w) - 2)
    ok = doc[start] == doc[start + 2]
    start = start[ok]
    sh = (w[start] * v + w[start + 1]) * v + w[start + 2]
    d = doc[start]
    order = np.lexsort((d, sh))
    d, h = d[order], sh[order]
    first = np.r_[True, (h[1:] != h[:-1]) | (d[1:] != d[:-1])]
    d, h = d[first], h[first]  # distinct (shingle, doc)
    n_sh = np.bincount(d, minlength=len(lens))
    # every pair of docs inside a run of equal shingles shares it
    starts = np.flatnonzero(np.r_[True, h[1:] != h[:-1]])
    sizes = np.diff(np.r_[starts, len(h)])
    n = len(lens)
    keys = []
    for k in np.unique(sizes[sizes > 1]):
        grp = d[starts[sizes == k][:, None] + np.arange(k)]
        for i in range(k):
            for j in range(i + 1, k):
                a, b = np.minimum(grp[:, i], grp[:, j]), np.maximum(grp[:, i], grp[:, j])
                keys.append(a * n + b)
    key, inter = np.unique(np.concatenate(keys or [np.zeros(0, np.int64)]), return_counts=True)
    shared = zip((key // n).tolist(), (key % n).tolist(), inter.tolist())
    losers = set()
    for a, b, inter in shared:
        na, nb = n_sh[a], n_sh[b]
        if na * 5 >= nb * 4 and nb * 5 >= na * 4 and inter / (na + nb - inter) >= threshold:
            losers.add(b)
    return len(lens) - len(losers)
