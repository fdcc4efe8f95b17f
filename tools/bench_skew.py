"""Hot-key (skew) evidence: measure the single-task mega-conversation
hazard and the chunked scale paths that remove it.

A corpus where ONE conversation holds ~25% of all rows serializes any
Window.partitionBy(conv_id) operator onto one task; with
``chunk_seconds=`` the temporal operators partition on (conv_id,
time-chunk) with a cross-chunk carry, so the mega key spreads over many tasks. This script measures both
plans on the same skewed input and prints one JSON line (results are
appended to BENCH/BASELINE.md by hand after an idle-host run — never run
other Spark jobs concurrently).

Usage: python tools/bench_skew.py [n_convs] [mega_turns] [cpus]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    mega_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    from pyspark.sql import functions as F

    from towhee_spark import asof_join, bfill, lag_lead, locf, sessionize
    from towhee_spark.session import get_spark
    from towhee_spark.synth import transcripts_spark

    spark = get_spark("skew", master=f"local[{cpus}]", shuffle_partitions=cpus)

    base = transcripts_spark(spark, n_convs=n_convs, partitions=cpus * 2)
    mega = spark.range(0, mega_turns, numPartitions=cpus * 2).select(
        F.lit("conv-mega").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"), F.lit("system")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("role"),
        F.concat(F.lit("turn "), F.col("id")).alias("text"),
        F.when(F.col("id") % 7 == 0, F.lit("search")).alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    corpus = base.select("conv_id", "turn_idx", "role", "text", "tool", "ts").unionByName(
        mega
    ).cache()
    total = corpus.count()

    ctx = corpus.filter(F.col("turn_idx") % 5 == 0).select(
        "conv_id", "ts", F.length("text").cast("double").alias("ctx_score")
    )

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(fn):
        fn()  # warm
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 2)

    res = {
        "total_rows": total,
        "mega_rows": mega_turns,
        "cpus": cpus,
        "locf_window_sec": timed(lambda: force(locf(corpus, ["tool"]))),
        "locf_chunked_sec": timed(
            lambda: force(locf(corpus, ["tool"], chunk_seconds=3600.0))
        ),
        "asof_window_sec": timed(lambda: force(asof_join(corpus, ctx))),
        "asof_chunked_sec": timed(
            lambda: force(asof_join(corpus, ctx, chunk_seconds=3600.0))
        ),
    }
    # exact Towhee time_window: per-key recurrence window vs the (key,
    # time-chunk) chunked-carry variant (round 3) — the mega conversation
    # spans ~278 one-hour chunks, so the chunked plan fans it out
    from towhee_spark.pipeline import Pipeline

    def tw(chunk):
        p = (
            Pipeline.input("turn_idx")
            .time_window("turn_idx", ("n", "s"), "ts", 3600, 1800,
                         lambda v: (F.count(v), F.sum(v)), exact=True,
                         emit_start="wstart", chunk_seconds=chunk)
            .output("conv_id", "wstart", "n", "s")
        )
        return p.apply(corpus, by="conv_id")

    res["tw_exact_window_sec"] = timed(lambda: force(tw(None)))
    res["tw_exact_chunked_sec"] = timed(lambda: force(tw(3600.0)))

    # COUNT window: bare-key row_number vs chunked_row_number (round 3)
    def cw(chunk):
        p = (
            Pipeline.input("turn_idx")
            .window("turn_idx", ("n", "s"), size=10, step=5,
                    fn=lambda v: (F.count(v), F.sum(v)), wid_col="wid",
                    chunk_seconds=chunk)
            .output("conv_id", "wid", "n", "s")
        )
        return p.apply(corpus, by="conv_id", order=("ts", "turn_idx"))

    res["cw_window_sec"] = timed(lambda: force(cw(None)))
    res["cw_chunked_sec"] = timed(lambda: force(cw(3600.0)))

    # sessionize: bare-key lag+running-sum vs chunked gap logic (round 3)
    res["sess_window_sec"] = timed(
        lambda: force(sessionize(corpus, gap=1800.0, seq_out="seq")))
    res["sess_chunked_sec"] = timed(
        lambda: force(sessionize(corpus, gap=1800.0, seq_out="seq",
                                 chunk_seconds=3600.0)))

    # lag/lead + bfill: the last two chunked pairs (round 3)
    res["ll_window_sec"] = timed(
        lambda: force(lag_lead(corpus, ["turn_idx"], [1, 2, -1])))
    res["ll_chunked_sec"] = timed(
        lambda: force(lag_lead(corpus, ["turn_idx"], [1, 2, -1],
                               chunk_seconds=3600.0)))
    res["bf_window_sec"] = timed(lambda: force(bfill(corpus, ["tool"])))
    res["bf_chunked_sec"] = timed(
        lambda: force(bfill(corpus, ["tool"], chunk_seconds=3600.0)))
    # expanding lifetime aggregates: bare-key range window vs chunked carry
    # (min/max carry is legal for expanding frames — session-3)
    from towhee_spark.temporal import expanding_agg

    xa_aggs = {"n": ("count", "*"), "mx": ("max", "turn_idx")}
    res["xa_window_sec"] = timed(lambda: force(expanding_agg(
        corpus, on="conv_id", ts="ts", aggs=xa_aggs)))
    res["xa_chunked_sec"] = timed(lambda: force(expanding_agg(
        corpus, on="conv_id", ts="ts", aggs=xa_aggs, chunk_seconds=3600.0)))

    # exact-quota stratified sampling: every role stratum holds ~25% of the
    # corpus — the bare row_number serializes each onto one task; the
    # hash-bucket chunked rank fans each stratum 2^6 ways
    from towhee_spark.functions.curation import stratified_sample

    sid = corpus.withColumn(
        "sid", F.concat_ws("#", F.col("conv_id"),
                           F.col("turn_idx").cast("string")))
    res["ss_window_sec"] = timed(lambda: force(stratified_sample(
        sid, 50_000, "role", id_col="sid")))
    res["ss_chunked_sec"] = timed(lambda: force(stratified_sample(
        sid, 50_000, "role", id_col="sid", chunk_bits=6)))

    res["locf_speedup"] = round(res["locf_window_sec"] / res["locf_chunked_sec"], 2)
    res["asof_speedup"] = round(res["asof_window_sec"] / res["asof_chunked_sec"], 2)
    res["tw_speedup"] = round(res["tw_exact_window_sec"] / res["tw_exact_chunked_sec"], 2)
    res["cw_speedup"] = round(res["cw_window_sec"] / res["cw_chunked_sec"], 2)
    res["sess_speedup"] = round(res["sess_window_sec"] / res["sess_chunked_sec"], 2)
    res["ll_speedup"] = round(res["ll_window_sec"] / res["ll_chunked_sec"], 2)
    res["bf_speedup"] = round(res["bf_window_sec"] / res["bf_chunked_sec"], 2)
    res["xa_speedup"] = round(res["xa_window_sec"] / res["xa_chunked_sec"], 2)
    res["ss_speedup"] = round(res["ss_window_sec"] / res["ss_chunked_sec"], 2)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
