"""Dedup layer — a duplicate-heavy text corpus through ``exact_dedup`` →
``minhash_dedup(verify_exact=True)``: shuffle- and aggregation-bound,
no parser and no sink. Measured in the traced run of bulk_routed (it has
no end-to-end workload of its own).

Every distinct document repeats DUP_FACTOR times (distinct doc_ids,
random placement), and a share of base documents has one near-duplicate
variant, so survivors = base documents."""

from __future__ import annotations

import os
import time

import gen
import oracle
import stats

CLUSTERS = 8_000
DUP_FACTOR = 8
PASSES = 2
THRESHOLD = 0.8
MEASURES = {
    "operators.dedup.records_per_s", "operators.dedup.exact_self_s",
    "operators.dedup.minhash_self_s", "operators.dedup.candidate_pairs",
    "operators.dedup.verified_pairs", "operators.dedup.pair_yield",
    "operators.dedup.max_bucket", "operators.dedup.shuffle_write_bytes",
    "operators.dedup.shuffle_read_bytes", "operators.dedup.spill_bytes",
}


def build_corpus(seed: int):
    def build(path: str) -> dict:
        meta = gen.make_corpus(path, seed, CLUSTERS, DUP_FACTOR)
        distinct = os.path.join(path, "distinct.parquet")
        meta["survivors"] = oracle.near_dup_survivors(distinct, THRESHOLD)
        return meta

    return build


def dedup(docs):
    from rotel_spark.operators.dedup import exact_dedup, minhash_dedup

    kept = exact_dedup(docs, "text", "doc_id")
    return kept, minhash_dedup(kept, "doc_id", "text", verify_exact=True,
                               jaccard_threshold=THRESHOLD)


def counted(df, name: str) -> int:
    """Run df to a noop sink; its row count rides the job (Observation)."""
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation

    obs = Observation(name)
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"]


def traced_layers(run) -> None:
    from pyspark.sql import functions as F

    from rotel_spark.operators.dedup import minhash_lsh_pairs, minhash_signature

    import spans

    path, meta = run.inputs("corpus", CLUSTERS * DUP_FACTOR, build_corpus(run.args.seed))
    run.check("generator clusters equal oracle survivors", meta["survivors"], meta["clusters"])
    docs = run.spark.read.parquet(os.path.join(path, "docs"))
    kept, survivors = dedup(docs)
    run.check("dedup warm-up exact survivors", counted(kept, "exact"), meta["distinct"])
    run.check("dedup warm-up near-dup survivors", counted(survivors, "warm"), meta["survivors"])
    walls = []
    w0 = time.time()
    for i in range(PASSES):
        t0 = time.perf_counter()
        n = counted(dedup(docs)[1], f"pass{i}")
        walls.append(time.perf_counter() - t0)
        run.check(f"dedup pass {i} survivors", n, meta["survivors"])
    run.eventlog_windows["operators.dedup"] = (w0, time.time())
    run.put("operators.dedup.records_per_s", meta["rows"] / stats.median(walls))

    tracer = run.tracer
    tracer.new_trace()
    kept, survivors = dedup(docs)
    with tracer.span("cut:exact") as s_exact:
        n_exact = counted(kept, "cut_exact")
    with tracer.span("cut:minhash") as s_full:
        n_full = counted(survivors, "cut_full")
    run.check("traced exact survivors", n_exact, meta["distinct"])
    run.check("traced near-dup survivors", n_full, meta["survivors"])
    cuts = spans.prefix_self_times([("exact", s_exact.dur), ("minhash", s_full.dur)])
    run.put("operators.dedup.exact_self_s", cuts["exact"])
    run.put("operators.dedup.minhash_self_s", cuts["minhash"])

    # LSH shape with the banding minhash_dedup uses (64 hashes, 16 bands)
    distinct = kept.cache()
    cand = minhash_lsh_pairs(distinct, "doc_id", "text", k=3, num_hashes=64, bands=16,
                             jaccard_threshold=0.0).cache()
    n_cand = cand.count()
    n_ver = cand.filter(F.col("jaccard") >= THRESHOLD).count()
    run.put("operators.dedup.candidate_pairs", n_cand)
    run.put("operators.dedup.verified_pairs", n_ver)
    run.put("operators.dedup.pair_yield", n_ver / max(1, n_cand))
    sig = minhash_signature(distinct, "text", 3, 64)
    band_hash = [
        F.struct(F.lit(b).alias("band"), F.xxhash64(
            *[F.element_at("minhash", b * 4 + j + 1) for j in range(4)]).alias("bucket"))
        for b in range(16)
    ]
    buckets = sig.select(F.explode(F.array(*band_hash)).alias("bb")).groupBy(
        "bb.band", "bb.bucket").count()
    run.put("operators.dedup.max_bucket", buckets.agg(F.max("count")).first()[0])
    cand.unpersist()
    distinct.unpersist()
