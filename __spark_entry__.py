"""Driver contract: queries() + oracle_sql() pairs for the correctness gate.

Each query is a Spark DataFrame plan from towhee_spark; each oracle is the
equivalent ANSI SQL run by DuckDB on the same parquet views. Transcript
queries run over a transcripts/context pair *derived deterministically from
the events table* (towhee_spark/sources/tables.py) so both engines see
byte-identical inputs of the BASELINE.json input_hint shape.

Column names are aliased identically on both sides; value columns avoid
engine-specific float math (integer µs timestamps, rounded doubles).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from towhee_spark import asof_join, lag_lead, locf, sessionize
from towhee_spark.pipeline import Pipeline
from towhee_spark import temporal
from towhee_spark.temporal import epoch_us
from towhee_spark.functions import clustering, dedup, similarity, text
from towhee_spark.sources.tables import (
    CONTEXT_SQL,
    TRANSCRIPTS_SQL,
    context_from_events,
    load_events,
    transcripts_from_events,
)

_CTE = f"WITH transcripts AS ({TRANSCRIPTS_SQL}), context AS ({CONTEXT_SQL})"


def _t_c(spark: SparkSession, sf_dir: str):
    ev = load_events(spark, sf_dir)
    return transcripts_from_events(ev), context_from_events(ev)


# --------------------------------------------------------------------------
# temporal core


def q_asof_backward(spark, sf_dir):
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, on="conv_id", ts="ts", direction="backward")
    return j.select("conv_id", "turn_idx", "ctx_score", "ctx_label")


def q_asof_static(spark, sf_dir):
    # the snapshot-broadcast streaming asof (streaming.ops.stream_asof_static)
    # run in its batch face, gated against the SAME oracle as asof_backward —
    # like the chunked family, the alternate execution path must be invisible
    t, c = _t_c(spark, sf_dir)
    from towhee_spark.streaming.ops import stream_asof_static  # noqa: PLC0415

    j = stream_asof_static(t, c, on="conv_id", ts="ts", direction="backward")
    return j.select("conv_id", "turn_idx", "ctx_score", "ctx_label")


def q_asof_forward(spark, sf_dir):
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, on="conv_id", ts="ts", direction="forward")
    return j.select("conv_id", "turn_idx", "ctx_score", "ctx_label")


def q_join_coverage(spark, sf_dir):
    # join-key coverage report (layout.join_coverage): all events vs the
    # purchase subset on user_id — left_match_rate = share of events
    # whose user ever purchased; right side is a subset so its rate is
    # 1.0 (both branches carried). Exact counts, ROUND-6 rates.
    from towhee_spark import layout  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    pur = ev.where(F.col("event_type") == "purchase")
    return layout.join_coverage(ev, pur, on="user_id")


def q_rows_features(spark, sf_dir):
    # last-N-events trailing aggregates (temporal.rows_agg): count/exact
    # frozen sum/max over each event's previous 5 same-user rows, total
    # order (ts, event_id). Oracle = independent rank-range self join.
    ev = load_events(spark, sf_dir)
    ev = ev.withColumn(
        "xf", F.round(F.col("value").cast("double") * F.lit(1 << 20), 0)
        .cast("long"))
    out = temporal.rows_agg(
        ev, on="user_id", ts="ts", n=5,
        aggs={"n_last5": ("count", "*"), "sum_xf5": ("sum", "xf"),
              "max_v5": ("max", "value")},
        order_extra=("event_id",))
    return out.select("event_id", "n_last5", "sum_xf5", "max_v5")


def q_ecdf(spark, sf_dir):
    # quantile normalization (features.ecdf_transform): ECDF from a
    # frozen-value histogram + running sum over the TINY distinct-value
    # table (never a global data window), broadcast join back; exact-
    # integer cum_le / n with one ROUND-6 division.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    out = fe.ecdf_transform(ev, "value")
    return out.select("event_id", "ecdf")


def q_multi_future_features(spark, sf_dir):
    # multi-horizon LABELS in one exchange (multi_range_agg direction=
    # 'forward'): the future_features question at 10 min AND 1 h, every
    # rangeBetween frame sharing one partitionBy/orderBy. Oracle = one
    # forward LEFT range join on the WIDEST band with CASE-gated
    # conditional aggregates for the narrower horizon (the
    # multi_range_features convention mirrored forward).
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    spine = t.where(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts")
    out = temporal.multi_range_agg(
        spine, t, on="conv_id", ts="ts",
        windows={"10m": 600.0, "1h": 3600.0},
        aggs={"n_next": ("count", "*"), "chars_next": ("sum", "tlen")},
        direction="forward")
    return out.select("conv_id", "turn_idx", "n_next_10m", "chars_next_10m",
                      "n_next_1h", "chars_next_1h")


def q_asof_nearest(spark, sf_dir):
    # direction='nearest' (pd.merge_asof's third mode): both sweeps share
    # the one union exchange; equal distances resolve backward. Oracle =
    # two chained DuckDB ASOF joins + the same exact-µs distance pick.
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, on="conv_id", ts="ts", direction="nearest")
    return j.select("conv_id", "turn_idx", "ctx_score", "ctx_label")


def q_asof_tolerance(spark, sf_dir):
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, direction="backward", tolerance=1800.0)
    return j.select("conv_id", "turn_idx", "ctx_score")


def q_asof_strict(spark, sf_dir):
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, direction="backward", allow_exact_matches=False)
    return j.select("conv_id", "turn_idx", "ctx_score")


def q_lag_lead(spark, sf_dir):
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("text_len", F.length("text"))
    out = lag_lead(t, ["text_len"], [1, 2, -1])
    return out.select(
        "conv_id", "turn_idx", "text_len",
        F.col("text_len_lag1").alias("len_lag1"),
        F.col("text_len_lag2").alias("len_lag2"),
        F.col("text_len_lead1").alias("len_lead1"),
    )


def q_locf_backfill(spark, sf_dir):
    t, _ = _t_c(spark, sf_dir)
    return locf(t, ["tool"]).select("conv_id", "turn_idx", F.col("tool_ff"))


def q_locf_chunked(spark, sf_dir):
    # hot-key scale path: value-chunked two-pass LOCF — same oracle as locf
    t, _ = _t_c(spark, sf_dir)
    return locf(t, ["tool"], chunk_seconds=3600.0).select(
        "conv_id", "turn_idx", F.col("tool_ff")
    )


def q_asof_chunked(spark, sf_dir):
    # hot-key scale path: chunked as-of sweep — same oracle as asof_backward
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, direction="backward", chunk_seconds=3600.0)
    return j.select("conv_id", "turn_idx", "ctx_score", "ctx_label")


def q_lag_lead_chunked(spark, sf_dir):
    # HOT-KEY lag/lead: per-(key, time-chunk) lag/lead with boundary-row
    # arrays carried across chunks — same oracle as lag_lead (chunking
    # must be invisible); chunk=3600s splits conversations into chunks
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("text_len", F.length("text"))
    out = lag_lead(t, ["text_len"], [1, 2, -1], chunk_seconds=3600.0)
    return out.select(
        "conv_id", "turn_idx", "text_len",
        F.col("text_len_lag1").alias("len_lag1"),
        F.col("text_len_lag2").alias("len_lag2"),
        F.col("text_len_lead1").alias("len_lead1"),
    )


def q_bfill_chunked(spark, sf_dir):
    # HOT-KEY backward fill (chunked LOCF mirrored in time) — same oracle
    # as bfill
    from towhee_spark import bfill  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    out = bfill(t, ["tool"], chunk_seconds=3600.0)
    return out.select("conv_id", "turn_idx", F.col("tool_bf"))


def q_bfill(spark, sf_dir):
    from towhee_spark import bfill  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return bfill(t, ["tool"]).select("conv_id", "turn_idx", F.col("tool_bf"))


def q_sessionize(spark, sf_dir):
    t, _ = _t_c(spark, sf_dir)
    out = sessionize(t, gap=1800.0, seq_out="session_seq")
    return out.select("conv_id", "turn_idx", "session_seq")


def q_sessionize_chunked(spark, sf_dir):
    # HOT-KEY sessionize (per-(key, time-chunk) gap logic + carried
    # predecessor and session-count base) — chunking must be invisible:
    # gated against the SAME oracle as sessionize. chunk=3600s splits the
    # transcript conversations into several chunks each.
    t, _ = _t_c(spark, sf_dir)
    out = sessionize(t, gap=1800.0, seq_out="session_seq",
                     chunk_seconds=3600.0)
    return out.select("conv_id", "turn_idx", "session_seq")


def q_session_stats(spark, sf_dir):
    t, _ = _t_c(spark, sf_dir)
    s = sessionize(t, gap=1800.0, seq_out="session_seq")
    return s.groupBy("conv_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.max(epoch_us("ts")) - F.min(epoch_us("ts"))).alias("duration_us"),
        F.count("tool").alias("n_tool_calls"),
    )


# --------------------------------------------------------------------------
# Towhee operator parity on driver tables — every query below goes through
# Pipeline.apply so the DuckDB gate binds the _compile_* node compilers,
# not a hand-lowered equivalent (VERDICT r01 "what's wrong" #3).


def q_towhee_map(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = (
        Pipeline.input("doc_id", "text")
        .map(
            "text",
            ("tok_cnt", "len_chars"),
            lambda t: (text.token_count(t), F.length(t).cast("int")),
            native=True,
        )
        .output("doc_id", "tok_cnt", "len_chars")
    )
    return p.apply(docs)


def q_towhee_filter(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cols = ("doc_id", "lang", "source")
    p = (
        Pipeline.input("doc_id", "lang", "source", "text")
        .filter(cols, cols, "text", lambda t: text.token_count(t) >= 5, native=True)
        .output(*cols)
    )
    return p.apply(docs)


def q_towhee_flat_map(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = (
        Pipeline.input("doc_id", "text")
        .flat_map(
            "text", "token", lambda t: F.split(text.normalize_text(t), " "), native=True
        )
        .output("doc_id", "token")
    )
    return p.apply(docs)


def _r4(x: float) -> float:
    # half-AWAY-from-zero to match F.round/DuckDB ROUND (Python round() is
    # banker's — CLAUDE.md float-parity tactic)
    import math  # noqa: PLC0415

    return math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)


def _n_sum(vals):
    # Python list fold — the gate exercises the per-group applyInPandas path
    return (len(vals), _r4(float(sum(vals))))


# Accepted residual risk (oracle-fragility review): the towhee_* value
# aggregates gate unordered DOUBLE sums through ROUND(...,4) equality.
# Accumulation-order noise (~1e-13) could flip a group landing exactly on a
# x.xxxx5 boundary on some future corpus; the DECIMAL tactic used for TPC-H
# revenue is not applicable here because the Python list-fold parity paths
# must sum plain floats. Three rounds of gate runs have never hit it.
def _n_sum_agg(col):
    # native aggregate fold — _native_agg compiles the node to one JVM hash
    # aggregate (map-side combine); the gate exercises that dispatch path
    return (F.count(col), F.round(F.sum(col), 4))


def q_towhee_window_count(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .window("value", ("n", "sum_value"), size=10, step=10, fn=_n_sum,
                out_types=("bigint", "double"), wid_col="wid")
        .output("user_id", "wid", "n", "sum_value")
    )
    return p.apply(ev, by="user_id", order=("ts", "event_id"))


def q_towhee_window_sliding(spark, sf_dir):
    # OVERLAPPING count window (size=10, step=5) through _compile_window
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .window("value", ("n", "sum_value"), size=10, step=5, fn=_n_sum_agg,
                out_types=("bigint", "double"), wid_col="wid")
        .output("user_id", "wid", "n", "sum_value")
    )
    return p.apply(ev, by="user_id", order=("ts", "event_id"))


def q_towhee_window_sliding_chunked(spark, sf_dir):
    # HOT-KEY variant of the count window: the per-key row index comes from
    # chunked_row_number (per-(key, time-chunk) local row_number +
    # prefix-sum carry) instead of a bare-key row_number window, so a
    # mega-conversation fans out. Chunking must be invisible: gated against
    # the SAME oracle as towhee_window_sliding.
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .window("value", ("n", "sum_value"), size=10, step=5, fn=_n_sum_agg,
                out_types=("bigint", "double"), wid_col="wid",
                chunk_seconds=3600)
        .output("user_id", "wid", "n", "sum_value")
    )
    return p.apply(ev, by="user_id", order=("ts", "event_id"))


def q_towhee_time_window(spark, sf_dir):
    # scale path (exact=False: step-aligned non-empty windows) — coincides
    # with the hour-bucket oracle because size == step
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .time_window("value", ("n", "sum_value"), "ts", size=3600, step=3600,
                     fn=_n_sum_agg, out_types=("bigint", "double"),
                     exact=False, emit_start="wstart")
        .output("user_id", "wstart", "n", "sum_value")
    )
    out = p.apply(ev, by="user_id")
    return out.select(
        "user_id",
        (F.col("wstart") / 3600).cast("long").alias("hour_id"),
        "n",
        "sum_value",
    )


def q_towhee_time_window_exact(spark, sf_dir):
    # EXACT Towhee buffer semantics (gap realignment) on an overlapping
    # window (size=3600s, step=1800s) — the native closed-form recurrence
    # compiled by _compile_time_window(exact=True); the oracle re-runs the
    # same recurrence in SQL (lag → realign threshold → running base →
    # clamped aligned window range)
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .time_window("value", ("n", "sum_value"), "ts", size=3600, step=1800,
                     fn=_n_sum_agg, out_types=("bigint", "double"),
                     exact=True, emit_start="wstart")
        .output("user_id", "wstart", "n", "sum_value")
    )
    return p.apply(ev, by="user_id")


def q_towhee_time_window_exact_chunked(spark, sf_dir):
    # HOT-KEY variant of the exact path: the same recurrence computed per
    # (key, time-chunk) with a tiny cross-chunk carry (chunk_seconds=3600 →
    # many chunks on this corpus), so a mega-conversation never serializes
    # onto one task. Chunking must be invisible: gated against the SAME
    # recurrence-mirror oracle as towhee_time_window_exact.
    ev = load_events(spark, sf_dir)
    p = (
        Pipeline.input("value")
        .time_window("value", ("n", "sum_value"), "ts", size=3600, step=1800,
                     fn=_n_sum_agg, out_types=("bigint", "double"),
                     exact=True, emit_start="wstart", chunk_seconds=3600)
        .output("user_id", "wstart", "n", "sum_value")
    )
    return p.apply(ev, by="user_id")


def q_towhee_reduce(spark, sf_dir):
    ev = load_events(spark, sf_dir)

    def fold(vals):
        return (
            len(vals),
            _r4(float(sum(vals))),
            _r4(float(min(vals))),
            _r4(float(max(vals))),
        )

    p = (
        Pipeline.input("value")
        .reduce("value", ("n", "sum_value", "min_value", "max_value"), fold,
                out_types=("bigint", "double", "double", "double"))
        .output("user_id", "n", "sum_value", "min_value", "max_value")
    )
    return p.apply(ev, by="user_id", order=("ts", "event_id"))


def q_towhee_concat(spark, sf_dir):
    # two sibling per-row branches forked from one input, merged by concat
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = Pipeline.input("doc_id", "text", "source")
    b1 = base.map("text", "tok_cnt", lambda t: text.token_count(t), native=True)
    b2 = base.map("source", "src_upper", lambda s: F.upper(s), native=True)
    p = b1.concat(b2).output("doc_id", "tok_cnt", "src_upper")
    return p.apply(docs)


# --------------------------------------------------------------------------
# relational coverage (Spark built-ins; TPC-H-style)


def _rev_sum():
    """Exact revenue aggregate: DECIMAL math in both engines so the sum is
    order-insensitive (float accumulation order flips round(2) boundaries)."""
    amt = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return F.round(F.sum(amt), 2).cast("double")


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").alias("sum_base_price"),
            _rev_sum().alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3ish(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
              orders.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_rev_sum().alias("revenue"))
        .select("l_orderkey", epoch_us("o_orderdate").alias("orderdate_us"), "revenue")
    )


def q_tpch_q5ish(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_sum().alias("revenue"))
    )


def q_cube_agg(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _rev_sum().alias("revenue"))
    )


def q_topk_orders(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_totalprice")
    )


def q_window_analytics(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.sum("value").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4
        ).alias("running_value"),
    )


def q_anti_semi_join(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        with_orders.select("c_custkey", F.lit("has_orders").alias("bucket"))
        .unionByName(without.select("c_custkey", F.lit("no_orders").alias("bucket")))
    )


def q_json_extract(spark, sf_dir):
    # semi-structured path: events.props is a JSON object {"k": int}
    ev = load_events(spark, sf_dir)
    # try_cast on both sides: ANSI Spark would THROW on a non-integer k
    # where DuckDB CAST rounds — try_cast makes both engines yield NULL
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("int").alias("k"),
    )


def q_monthly_orders(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    month = F.date_trunc("month", F.col("o_orderdate"))
    return orders.groupBy(epoch_us(month).alias("month_us")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# training-data ops


def q_dedup_exact(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.dedup_exact(docs)


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3, max_shingle_freq=None)


def q_dedup_groups(spark, sf_dir):
    # pairs → connected components (large-star/small-star): the grouping
    # step that turns every dedup tier's PAIR output into one group id per
    # doc. NOTE: this query RUNS Spark jobs at build time (the star
    # iteration is inherently iterative); the returned frame reads the
    # checkpointed star edges, so the pair cache can be released here.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3, max_shingle_freq=None)
    out = dedup.dedup_groups(docs, pairs)
    dedup.release_cached(pairs)
    return out


def q_dedup_survivors(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3, max_shingle_freq=None)
    out = dedup.dedup_survivors(docs, pairs)
    dedup.release_cached(pairs)
    return out


def q_quantized_embeddings(spark, sf_dir):
    # int8 symmetric quantization (the 4x storage lever for 100 TB vector
    # columns): mx = max|x|, q = floor(x*127/mx + 0.5) — EXPLICIT
    # floor-half-up so Spark/DuckDB/numpy all agree (ROUND would mix
    # half-even and half-away). Codes are bit-identical across engines
    # (identical double ops on identical operands — no rounding margin at
    # all); xhat6 checks the dequantized reconstruction.
    from towhee_spark.functions import quantize  # noqa: PLC0415

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qd = quantize.quantize_embeddings(embs)
    return qd.select(
        "vec_id", "q_scale", F.posexplode("q_codes").alias("dim_idx", "q")
    ).withColumn(
        "xhat6", F.round(F.col("q") * F.col("q_scale") / F.lit(127.0), 6)
    )


def q_shard_layout(spark, sf_dir):
    # deterministic training-shard layout: shard = pmod(hash60, 8),
    # shard_pos = rank within the shard by (hash, id) — the reproducible
    # global shuffle written before training. The only wide op is a
    # row_number window partitioned by SHARD (width ≈ n/n_shards); the
    # oracle mirrors hash, shard and rank exactly.
    from towhee_spark.layout import shard_by_hash  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_by_hash(docs, n_shards=8).select(
        "doc_id", "lang", "shard", "shard_pos")


def q_dedup_best(spark, sf_dir):
    # quality-aware group survivor: same pair graph + connected components
    # as dedup_groups, but the kept member is argmax(quality_score) with
    # lowest-id tie-break — one max(struct(score, -id)) hash aggregate per
    # group, never a per-group window. Oracle = the recursive-CC mirror +
    # the quality mirror + (score DESC, id ASC) row_number.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3, max_shingle_freq=None)
    scored = docs.withColumn("qscore", text.quality_score("text"))
    out = dedup.dedup_best_survivors(scored, pairs, "qscore")
    dedup.release_cached(pairs)
    return out


def q_duplicate_spans(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.duplicate_spans(docs, k=8)


def q_strip_spans(spark, sf_dir):
    # the removal half of duplicate_spans: documents rewritten with their
    # cross-corpus duplicated 8-token runs cut out (shared _dup_islands
    # construction, so detection and removal can never disagree); the
    # oracle rebuilds the surviving token stream with a NOT EXISTS range
    # probe + position-ordered string_agg.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.strip_duplicate_spans(docs, k=8)


def q_unigram_ppl(spark, sf_dir):
    from towhee_spark.functions import lm  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm.unigram_perplexity(docs)


def q_bigram_ppl(spark, sf_dir):
    # interpolated bigram LM (Jelinek-Mercer, lam=0.75 exactly
    # representable) — the statistical-quality tier one order above
    # unigram_ppl; oracle mirrors counts + the fixed-shape interpolation
    from towhee_spark.functions import lm  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lm.bigram_perplexity(docs)


def q_text_stats(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        text.lang_id("text").alias("lang_guess"),
        text.token_count("text").alias("tok_cnt"),
        text.fingerprint("text").alias("fp"),
    )


def q_embedding_norms(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return embs.select("vec_id", F.round(norm, 4).alias("l2_norm"))


def q_similarity_topk(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.brute_force_topk(qs, embs, k=3)
    # compare on rounded score; rank order may differ on exact ties
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_conv_prompt(spark, sf_dir):
    from towhee_spark.functions.prompt import conversation_prompt  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return conversation_prompt(t)


def q_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", text.quality_score("text").alias("qscore"))


def q_rerank(spark, sf_dir):
    # gate-verifiable scorer: native token-set Jaccard (SQL-mirrorable exact
    # rationals); swap scorer= for a model kernel in production
    from towhee_spark.functions.rerank import rerank as _rr, token_jaccard_scorer  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query")
    )
    cands = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("cand_id"), F.col("text").alias("doc")
    )
    pairs = F.broadcast(qs).crossJoin(cands)
    return _rr(pairs, k=3, scorer=token_jaccard_scorer(), tiebreak="cand_id").select(
        "query_id", "cand_id", "rank", "score"
    )


def q_minhash_lsh(spark, sf_dir):
    # banded-LSH candidates + exact-Jaccard verify: with recall-1 banding the
    # output equals the exact pair set, so the exact SQL is a hard oracle
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # bands=64 (1 row/band): a J>=0.5 pair is missed only if NO single
    # minhash agrees - P(miss) = (1-J)^64 <= 5e-20, so the exact-pair oracle
    # is deterministic in practice on any corpus.
    # DO NOT copy this config into a production job: 64 one-row bands are
    # near-all-pairs at corpus scale. The scale default is bands=16 (4 rows
    # per band) with verify="estimate" - benched as prod_minhash_lsh_16x4.
    return dedup.minhash_lsh_pairs(
        docs, threshold=0.5, num_hashes=64, bands=64, verify="exact"
    )


def q_simhash_pairs(spark, sf_dir):
    # md5-hash sketch so the ORACLE can re-run the full simhash algorithm
    # (sketch → segment blocking → hamming prune → exact-Jaccard verify) in
    # SQL — the gate checks the implementation, independent of blocking
    # recall (which 64-bit simhash cannot guarantee on short docs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_jaccard_pairs(
        docs, threshold=0.5, blocks=6, max_hamming=16, hash="md5", bits=60
    )


def q_simhash_permuted(spark, sf_dir):
    # Manku permuted-table blocking, gated by COMPLETENESS: blocks=6,
    # max_hamming=4 ⇒ t=2-segment prefixes over C(6,2)=15 tables, which is
    # recall-1 for hamming ≤ 4 — so the blocked output must EQUAL the exact
    # all-pairs hamming ≤ 4 set, computed directly by the oracle from the
    # same md5 sketch mirror (no blocking in SQL ⇒ the gate catches any
    # table/prefix bug as a missing pair)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash_pairs_permuted(
        docs, "doc_id", "text", max_hamming=4, blocks=6, ngram=3,
        hash="md5", bits=60,
    ).withColumn("hamming", F.col("hamming").cast("int"))


def q_lsh_topk(spark, sf_dir):
    # multi-probe LSH candidates + exact rerank; probes chosen so candidate
    # recall covers the true top-k → output equals brute force → hard oracle
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.lsh_topk(qs, embs, k=3, planes=8, probes=4, dim=64,
                              impl="expr")  # oracle-reproducible buckets
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_ivf_topk(spark, sf_dir):
    # IVF cells + exact rerank; the oracle re-derives the hash-sampled
    # centroids, the argmax-cosine assignment and the nprobe search in SQL,
    # so the inverted-file algorithm is gated end-to-end (not just recall).
    # Embeddings cast to double so both engines do all-double arithmetic —
    # cell choice compares ROUND(cos, 6) and carries the same documented
    # 1e-6-boundary residual risk as the LSH bucket oracle (BASELINE.md).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.ivf_topk(qs, embs, k=3, nlist=8, nprobe=3, impl="expr")
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_semdedup(spark, sf_dir):
    # SemDeDup cluster-then-prune (Abbas et al. 2023): md5-hash-sampled
    # centroids (shared with ivf_topk), argmax-cosine cell assignment,
    # within-cell ROUND(cos,6) >= 0.3 prune keeping the min-id
    # representative. The oracle re-runs every stage in SQL. τ=0.3 yields
    # 255 within-cell dup pairs at sf0.01 (nlist=8); measured margin: the
    # closest rounded cosine to the 0.3 boundary is 7.8e-5 — 5+ orders
    # above cross-engine double noise, same b1658cb discipline as ivf_topk
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    out = dedup.semdedup(embs, nlist=8, threshold=0.3, impl="expr")
    return out.select("vec_id", "cell", "dup_of")


def q_pq_topk(spark, sf_dir):
    # product-quantization ADC scan (Jégou et al. 2011): md5-hash-sampled
    # codebooks (the ivf_train sampling), per-subspace argmax encode,
    # lookup-table scoring. Measured margins (sf0.001/0.01/0.1): encode
    # keys within 1.7e-12 of a ROUND(,6) boundary at worst (~3-4 orders
    # above cross-engine fp noise — the tightest oracle margin in the
    # repo, documented in BASELINE.md), ADC scores within 5e-11; rank-
    # boundary rounded ties DO occur (PQ collapses vectors onto ksub^m
    # code points) and are resolved by the shared match_id-asc tie-break
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.pq_adc_topk(qs, embs, k=3, m=4, ksub=8, impl="expr")
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_ivfpq_topk(spark, sf_dir):
    # IVF-PQ composite (Faiss IndexIVFPQ shape): coarse cells prune the
    # scan, PQ codes compress it — pure composition of the ivf_topk and
    # pq_topk machineries, so the oracle is their two mirrors joined; no
    # new float surfaces beyond the margins measured for those two gates
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.ivfpq_topk(
        qs, embs, k=3, nlist=8, nprobe=3, m=4, ksub=8, impl="expr")
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_ivfsq_topk(spark, sf_dir):
    # IVF-SQ8 composite (Faiss IndexIVFScalarQuantizer shape): coarse
    # cells prune, int8 scalar quantization compresses, queries score
    # asymmetrically against the floor-half-up reconstruction — a pure
    # composition of the ivf_topk and quantized_embeddings machineries,
    # so the only new float surface is the reconstructed cosine (same
    # ROUND(,6)+id-asc discipline as the other retrieval gates).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.ivfsq_topk(qs, embs, k=3, nlist=8, nprobe=3, impl="expr")
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


def q_kmeans(spark, sf_dir):
    # Lloyd k-means (spherical — cosine is scale-invariant so the raw-mean
    # update IS the spherical update): init = the shared md5-lowest-id
    # sample, 2 iterations of argmax-ROUND(cos,6) assignment + INTEGER-
    # frozen mean update (components frozen to ROUND(x·2^20) BIGINT, so
    # per-cell sums are order-free exact int64 in both engines and the new
    # component s/(n·2^20) is one IEEE division of exact ints — bit-
    # identical across Spark/Python/DuckDB). The oracle unrolls both
    # iterations in SQL. Measured margins (sf0.001/0.01/0.1): the freeze
    # hits EXACT .5 ties (synthetic components are power-of-2 rationals) —
    # harmless, x·2^20 is one multiply of identical doubles and both
    # engines round half-away-from-zero, so exact ties agree
    # deterministically; assignment cosines sit ≥2.8e-11 from their
    # ROUND(,6) boundary (same order as the pq_topk gate, documented
    # discipline in BASELINE.md).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    cents = clustering.kmeans_train(embs, k=8, iters=2, impl="expr")
    out = clustering.kmeans_assign(embs, cents, impl="expr", score_col="cos6")
    return out.select("vec_id", "cell", "cos6")


def q_classifier(spark, sf_dir):
    # fastText-shape hashed linear quality classifier: shared-tokenizer
    # unigrams + bigrams, md5 60-bit bucket hash, broadcast weight table,
    # mean-pool logit. Weights are integers/1024 (exact binary fractions)
    # so every per-doc sum is EXACT in double regardless of order — the
    # logit matches bit-for-bit across engines with NO rounding margin to
    # document; the gate skips only the sigmoid (engine-ulp exp)
    from towhee_spark.functions.classifier import linear_classifier_score  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = linear_classifier_score(docs, dim=256)
    return out.select(
        "doc_id", "n_feats", F.round("logit", 6).alias("logit6"), "keep")


def q_dsir(spark, sf_dir):
    # DSIR importance selection (Xie et al. 2023): target = the en slice,
    # raw = the whole corpus; hashed unigram+bigram bag-of-words
    # log-ratios frozen to INTEGERS (× 2^20) so per-doc accumulation and
    # the top-k rank are exact int64 — the only float surface is the
    # per-BUCKET log-ratio rounding (dim=256 values; margin measured at
    # the oracle helper). Deterministic argmax config (gumbel=False);
    # gumbel=True is the paper's sampling path, pytest-gated instead
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.dsir_select(
        docs, docs.filter(F.col("lang") == "en"), k=50, dim=256)
    return out.select("doc_id", "n_feats", "lw_scaled", "logweight", "rank")


def q_bm25(spark, sf_dir):
    # Okapi BM25 lexical retrieval, self-retrieval shape (first 5 docs
    # query the corpus with their own text); fully native plan — the
    # oracle recomputes postings/df/idf/score in SQL term for term. Rank
    # order inside the engine uses the 6-rounded score; the gate compares
    # the 4-rounded value like the other retrieval queries.
    from towhee_spark.functions.ranking import bm25_topk  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("question"))
    out = bm25_topk(qs, docs, k=3)
    return out.select(
        "query_id", "match_id", F.round("score", 4).alias("score4"))


def q_tfidf_terms(spark, sf_dir):
    # per-doc keyword extraction: top-5 terms by tf·idf with the idf
    # frozen once per TERM to ROUND(idf·2^20) BIGINT — the ranking is
    # pure int64 (tf·idf_q20), so the only float surface is the per-term
    # freeze; the single ln is written as one log-of-ratio in BOTH
    # engines so operand shapes match (never ln(a)−ln(b)). Oracle
    # re-runs postings → df → freeze → window rank in SQL. Measured
    # freeze margins (sf0.001/0.01/0.1): idf·2^20 sits ≥3.2e-3 from every
    # .5 boundary — ~13 orders above cross-engine libm ln noise.
    from towhee_spark.functions import ranking  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ranking.tfidf_top_terms(docs, k=5)


def q_rrf_hybrid(spark, sf_dir):
    # hybrid retrieval: Okapi BM25 lexical top-10 ⊕ exact-cosine dense
    # top-10 over md5-parity embeddings, fused with Reciprocal Rank Fusion
    # (1/(60+rank), the Cormack et al. constant). Both rankers and the
    # fusion arithmetic are re-run term for term by the oracle, so the
    # combiner is gated end-to-end. Self-matches stay in (bm25 gate's
    # self-retrieval shape); zero-vector docs are absent from the dense
    # ranking on BOTH sides but can still arrive via the lexical branch.
    from towhee_spark.functions.dedup import _with_cached_deps  # noqa: PLC0415
    from towhee_spark.functions.ranking import bm25_topk, rrf_fuse  # noqa: PLC0415
    from towhee_spark.kernels import dot_expr, embed_text_parity_udf  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("question"))
    lexical = bm25_topk(qs, docs, k=10)

    # ONE embedding pass over the corpus, cached: both dense sides (index
    # and the doc_id<5 query rows) read the cached frame, so the parity
    # UDF runs once per doc instead of 4 Python stages / 6 corpus scans
    # (the pre-fix plan audit row). Queries being a subset of docs is the
    # bm25 gate's self-retrieval shape — the reuse is exact, not approximate.
    emb = embed_text_parity_udf(dim=32)
    emb_all = docs.select(
        F.col("doc_id").alias("match_id"), emb(F.col("text")).alias("dv")
    ).cache()
    dindex = emb_all.filter(
        F.size(F.filter(F.col("dv"), lambda v: v != 0)) > 0)
    qv = dindex.filter(F.col("match_id") < 5).select(
        F.col("match_id").alias("query_id"), F.col("dv").alias("qv"))
    # unit-norm parity vectors: dot == cosine (same contract as rag_search)
    vscored = dindex.join(F.broadcast(qv)).select(
        "query_id", "match_id",
        F.round(dot_expr(F.col("qv"), F.col("dv")), 6).alias("score"),
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("match_id").asc())
    dense = _with_cached_deps(
        vscored.withColumn("rank", F.row_number().over(vw))
        .filter(F.col("rank") <= 10)
        .select("query_id", "match_id", "score", "rank"),
        emb_all,
    )
    return rrf_fuse([lexical, dense], k=5, c=60)


def q_decontaminate(spark, sf_dir):
    # benchmark decontamination: docs 0-24 play the eval benchmark, the
    # rest are the training corpus; flag corpus docs sharing >= 3 distinct
    # 3-gram shingles with any benchmark doc. The oracle re-runs the
    # shared shingle construction (the gate-proven normalize/short-doc
    # mirror) and the same join+count in SQL.
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") >= 25)
    bench = docs.filter(F.col("doc_id") < 25)
    return curation.decontaminate(corpus, bench, n=3, threshold=3)


def q_bloom_decontaminate(spark, sf_dir):
    # Bloom-filter decontamination (the compact-broadcast scale shape):
    # same corpus/benchmark split as q_decontaminate, but membership goes
    # through a 4096-bit k=3 Bloom filter — deliberately undersized so the
    # gate exercises REAL false positives; both engines derive the
    # identical bit map and FP set (md5 positions, integer bit ops), so
    # the maybe-contaminated counts match exactly. Production sizing:
    # m_bits ≥ 16× the benchmark's distinct shingles (docstring).
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") >= 25)
    bench = docs.filter(F.col("doc_id") < 25)
    return curation.bloom_decontaminate(
        corpus, bench, n=3, threshold=3, m_bits=4096, k=3)


def q_pooled_embeddings(spark, sf_dir):
    # chunk→group embedding pooling: 25 synthetic groups (vec_id % 25),
    # exact-int mean (components frozen to ROUND(x·2^20) BIGINT, order-
    # free int64 sums, one IEEE division — the kmeans freeze discipline),
    # emitted as gate-sortable sparse rows like embed_text. ONE hash
    # aggregate of 64 per-component sums; no posexplode of the corpus.
    from towhee_spark.functions import clustering  # noqa: PLC0415

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")).withColumn(
        "gid", F.pmod(F.col("vec_id"), F.lit(25)))
    pooled = clustering.pool_embeddings(
        embs, "gid", dim=64, mode="mean", quantize_bits=20)
    return pooled.select(
        "gid", "n_vecs", F.posexplode("pooled").alias("dim_idx", "val"))


def q_quality_quantile(spark, sf_dir):
    # per-language top-20% quality cut via the HISTOGRAM-threshold
    # selection (curation.top_quantile_by): scores frozen to
    # ROUND(q6·1e6) int64, per-(lang, score) histogram, threshold = MAX
    # frozen score whose top-down cumulative count reaches ⌈0.2·n_lang⌉
    # — computed as EXACT integer (num·n + den−1) div den on both
    # engines (never a float product: DuckDB parses 0.2 as DECIMAL
    # while Spark multiplies doubles), keep-ties. No per-stratum window
    # over the DATA anywhere — the only window runs over the tiny
    # histogram.
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "doc_id", "lang", text.quality_score("text").alias("qscore"))
    return curation.top_quantile_by(scored, "qscore", "lang", q=0.2)


def q_heavy_hitters(spark, sf_dir):
    # Count-min-sketch heavy hitters over the corpus token stream: 4×256
    # cells (width pinned small so collisions REALLY occur and the
    # min-over-rows estimate is exercised, not just pass-through counts),
    # candidates = the distinct vocabulary, keep est >= 500. The oracle
    # rebuilds the identical sketch in SQL (md5 positions, same salts) —
    # estimates including their deterministic collision overcounts match
    # exactly. Production shape: probe per-partition local top-k
    # candidates instead of the full vocabulary (sketches.cms_estimate
    # docstring); the sketch itself is mergeable across corpus shards.
    from towhee_spark.functions import sketches  # noqa: PLC0415
    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    from towhee_spark.functions.dedup import _with_cached_deps  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # toks feeds BOTH the sketch build and the candidate set — cache so
    # the normalize+explode runs once (the simhash shingle-cache lesson)
    toks = docs.select(F.explode(_toks(F.col("text"))).alias("term")).cache()
    cms = sketches.cms_build(toks, "term", depth=4, width=256)
    cand = toks.distinct()
    est = sketches.cms_estimate(cms, cand, "term", depth=4, width=256)
    return _with_cached_deps(est.filter(F.col("est") >= 500), toks)


def q_curated_corpus(spark, sf_dir):
    # the pretraining_curation preset end-to-end: Gopher quality gate →
    # exact dedup (min-id survivor) → benchmark decontamination →
    # deterministic 80/10/10 split, as ONE composed plan over the corpus
    # (doc_id >= 25; docs < 25 play the benchmark). Each stage is
    # individually gated elsewhere; this gate proves the COMPOSITION —
    # the oracle chains the same four mirrors with each stage reading the
    # previous stage's survivors.
    from towhee_spark.pipelines import pipeline  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curate = pipeline(
        "pretraining_curation",
        benchmark=docs.filter(F.col("doc_id") < 25),
        min_words=50, decon_n=3, decon_threshold=3,
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1})
    return curate(docs.filter(F.col("doc_id") >= 25)).select(
        "doc_id", "lang", "split")


def q_hash_split(spark, sf_dir):
    # deterministic 80/10/10 split: label = cumulative-threshold bucket of
    # the cross-engine 60-bit md5 hash of 'split'||doc_id — integer
    # comparisons only, so both engines assign identical labels row-for-row
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.hash_split(
        docs, weights={"train": 0.8, "val": 0.1, "test": 0.1})
    return out.select("doc_id", "lang", "split")


def q_sample_by_hash(spark, sf_dir):
    # per-stratum deterministic sampling (training-mix construction):
    # keep 50% of en, 25% of zh, 10% of everything else, by integer hash
    # threshold — the kept set is a pure function of (salt, doc_id)
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.sample_by_hash(
        docs, rates={"en": 0.5, "zh": 0.25}, strata_col="lang",
        default_rate=0.1)
    return out.select("doc_id", "lang")


MIXTURE_RATES = {"en": 0.4, "de": 2.25, "fr": 3.0, "zh": 1.6}


def q_domain_mixture(spark, sf_dir):
    # epoch-repeat domain mixture (curation.mixture_sample): downsample
    # the en bulk to 40%, repeat de 2.25 epochs / fr 3 / zh 1.6, es (the
    # default) at 50% — the Pile/DoReMi upsampling construction with a
    # deterministic per-(id, epoch) hash gate. The oracle regenerates the
    # SAME (n_full, frac_thr, n_max) integer literals from _mixture_plan.
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.mixture_sample(
        docs, rates=MIXTURE_RATES, strata_col="lang", default_rate=0.5)
    return out.select("doc_id", "lang", "epoch")


def q_hard_negatives(spark, sf_dir):
    # contrastive hard-negative mining (similarity.hard_negatives): per
    # query the top-3 index vectors with cosine in [0.2, 0.9) — similar
    # enough to be hard, capped below near-dup territory. method="exact"
    # is the gate path; the oracle is the brute-force scan + band filter.
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.hard_negatives(
        qs, embs, k=3, band=(0.2, 0.9), method="exact")
    return out.select("query_id", "match_id",
                      F.round("score", 4).alias("score4"))


def q_conv_features(spark, sf_dir):
    # whole-conversation feature vectors (functions/transcripts.py):
    # turn/session/tool counts, exact epoch-µs span, per-role counts,
    # text volume, assistant response latency — integer aggregates plus
    # ROUND(exact_sum/count, 6) one-division means. The oracle reuses
    # the PROVEN sess_seq fragment + a lag CTE.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.conv_features(t)


def q_role_transitions(spark, sf_dir):
    # consecutive-turn role bigrams: the conversation-dynamics
    # fingerprint (user→assistant dominance, tool-loop density).
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.role_transitions(t)


def q_sft_examples(spark, sf_dir):
    # transcripts → SFT pairs (transcripts.sft_examples): each assistant
    # turn becomes (prompt = previous ≤4 turns as "role: text" lines,
    # completion = its own text). Frame membership AND in-frame order
    # derive from the one (ts, turn_idx) sort — windowed collect_list /
    # list() emit frame order in both engines, so the rendered strings
    # hash-match exactly.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.sft_examples(t, max_context_turns=4)


def q_curriculum(spark, sf_dir):
    # curriculum data ordering (layout.curriculum_boundaries/_order):
    # equal-frequency difficulty buckets over the quality score (exact
    # integer histogram ranks — cum·B >= i·n, no float quantile) + the
    # deterministic within-bucket hash shuffle. boundaries is a B−1-row
    # train action at plan build (ivf_train convention); the oracle
    # re-derives the SAME boundaries from the mirrored histogram.
    from towhee_spark import layout  # noqa: PLC0415
    from towhee_spark.functions.text import quality_score  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", quality_score("text").alias("q"))
    bnd = layout.curriculum_boundaries(docs, "q", n_buckets=4)
    out = layout.curriculum_order(docs, "q", bnd)
    return out.select("doc_id", "bucket", "order_key")


def q_data_card(spark, sf_dir):
    # per-lang data card (curation.data_card): doc/dup/token/char counts
    # + one-division ROUND means — the reproducible dataset report. The
    # oracle chains the proven quality/fingerprint/token-count mirrors
    # into the same single aggregate.
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation.data_card(docs)


def q_preference_pairs(spark, sf_dir):
    # DPO pair construction (transcripts.preference_pairs): assistant
    # turns answering an identical user prompt anywhere in the corpus are
    # ranked by an exact-integer score (text length), best-vs-worst with
    # a strict margin. Two reversed row_number windows share the prompt
    # exchange with the final MAX(CASE WHEN rn=1) argmax aggregate.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("sc", F.length("text").cast("int"))
    return tr.preference_pairs(t, "sc")


def q_truncate_context(spark, sf_dir):
    # context-window fitting (transcripts.truncate_context): longest
    # turn suffix whose whitespace-token total fits the budget — one
    # reverse running-sum window per conversation, integer-only.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    out = tr.truncate_context(t, budget=32)
    return out.select("conv_id", "turn_idx", "n_tokens",
                      "cum_from_end", "kept")


def q_truncate_context_chunked(spark, sf_dir):
    # the hot-key path of truncate_context (chunk_seconds=900): local
    # reverse running sum per (conv, 15-min chunk) + later-chunk
    # suffix-sum carry — gated against the SAME oracle as the unchunked
    # path (the chunked-family convention: chunking must be invisible).
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    out = tr.truncate_context(t, budget=32, chunk_seconds=900.0)
    return out.select("conv_id", "turn_idx", "n_tokens",
                      "cum_from_end", "kept")


def _range_features(spark, sf_dir, impl):
    # trailing range-window feature aggregates (temporal.range_agg): for
    # every assistant turn, COUNT + SUM(length(text)) over the turns in
    # the strictly-preceding 10 minutes of the same conversation — the
    # point-in-time "context volume" feature, leakage-free by the open
    # upper bound. The oracle is the INDEPENDENT LEFT JOIN range-scan
    # formulation (epoch_us band predicate + GROUP BY), not a mirror of
    # either physical strategy; integer aggregates only (float-parity
    # rule). Both impls (value-range window frame / prefix-sum sweep with
    # probe rows) gate against the SAME SQL — the chunked-family
    # convention: the physical strategy must be invisible.
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    spine = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    kw = {}
    if impl.startswith("prefix"):
        kw = {"spine_id": ("conv_id", "turn_idx")}
        if impl == "prefix_chunked":
            kw["chunk_seconds"] = 300.0
    out = temporal.range_agg(
        spine, t, on="conv_id", ts="ts", window_seconds=600.0,
        aggs={"n_ctx": ("count", "*"), "chars_ctx": ("sum", "tlen")},
        impl="prefix" if impl.startswith("prefix") else impl, **kw)
    return out.select("conv_id", "turn_idx", "n_ctx", "chars_ctx")


def _future_features(spark, sf_dir, impl):
    # forward-horizon LABEL aggregates (temporal.future_agg): for every
    # user turn, COUNT + SUM(length(text)) over the turns in the
    # strictly-following 10 minutes of the same conversation — the
    # supervision mirror of range_features, open at the as-of instant
    # and closed at the horizon so a (feature, label) pair can never
    # share an event. Window impl = rangeBetween(+1, +h_us); prefix impl
    # = range_agg's proven sweep on NEGATED time. Both gate on the SAME
    # independent LEFT-JOIN oracle (physical strategy invisible).
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    spine = t.where(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts")
    kw = {}
    if impl == "prefix":
        kw = {"spine_id": ("conv_id", "turn_idx")}
    out = temporal.future_agg(
        spine, t, on="conv_id", ts="ts", horizon_seconds=600.0,
        aggs={"n_next": ("count", "*"), "chars_next": ("sum", "tlen")},
        impl=impl, **kw)
    return out.select("conv_id", "turn_idx", "n_next", "chars_next")


def q_range_quantiles(spark, sf_dir):
    # exact trailing quantiles (temporal.range_quantile): median + p90 of
    # turn length over each assistant turn's strictly-preceding 10 min.
    # Rank SELECTION (element at ceil(q·n) of the sorted window), so the
    # value is an input long unchanged — cross-engine exact with no
    # interpolation to mirror; the rank is (num·n + den−1) DIV den
    # integer math. Oracle = independent range join + row_number /
    # count windows + MAX(CASE rn = rank) argmax.
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    spine = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    out = temporal.range_quantile(
        spine, t, on="conv_id", ts="ts", window_seconds=600.0,
        value="tlen", qs={"med_len": 0.5, "p90_len": 0.9})
    return out.select("conv_id", "turn_idx", "med_len", "p90_len")


def q_feature_matrix(spark, sf_dir):
    # the north-rule composite as ONE preset call (pipelines.
    # feature_matrix): assistant-turn spine gains backward 10-min range
    # features (open upper bound), the as-of-latest context row with its
    # matched timestamp (leakage-auditable), and a forward 10-min label
    # (open at the as-of instant) — leakage-free on both sides by
    # construction. The oracle chains the three PROVEN mirrors (LEFT
    # range join backward, DuckDB ASOF, LEFT range join forward).
    from towhee_spark.pipelines import pipeline  # noqa: PLC0415

    t, c = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    fm = pipeline(
        "feature_matrix", context={"ctx": c}, key="conv_id", ts="ts",
        spine_filter=(F.col("role") == "assistant"),
        feature_windows={"10m": 600.0},
        feature_aggs={"n_ctx": ("count", "*"),
                      "chars_ctx": ("sum", "tlen")},
        label_horizon=600.0, label_aggs={"n_next": ("count", "*")})
    out = fm(t)
    return out.select("conv_id", "turn_idx", "n_ctx_10m", "chars_ctx_10m",
                      "ctx_score", "ctx_ts", "n_next")


def q_calendar_features(spark, sf_dir):
    # exact integer calendar fields (temporal.calendar_features): wall-
    # clock recombination keeps every field session-tz-independent; the
    # ISO dow/week mirrors are weekday()+1 == isodow, weekofyear ==
    # week(). Cyclical sin/cos encodings exist but are engine-side
    # (libm rounding is not a cross-engine contract).
    ev = load_events(spark, sf_dir)
    out = temporal.calendar_features(ev, "ts")
    return out.select("event_id", "hour", "minute", "day", "month", "year",
                      "iso_dow", "week", "epoch_day", "is_weekend")


def q_skew_report(spark, sf_dir):
    # multi-column skew diagnostic (layout.skew_report): one stacked
    # hash aggregate for all candidate key columns, top-5 values per
    # column ranked (n DESC, value ASC), share = single ROUND-6 division.
    from towhee_spark import layout  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    return layout.skew_report(ev, ["event_type", "user_id"], k=5)


def q_range_zscore(spark, sf_dir):
    # trailing anomaly score (temporal.range_zscore): each event's value
    # vs its user's strictly-preceding hour. The frozen scale cancels in
    # z = (n·x − Σx)/√(n·Σx² − (Σx)²) — exact integer operands, one cast
    # each, one ROUND-6; the oracle recomputes via an independent self
    # range join (HUGEINT sums cast once, same operand shapes).
    ev = load_events(spark, sf_dir)
    out = temporal.range_zscore(
        ev, on="user_id", ts="ts", value="value", window_seconds=3600.0)
    return out.select("event_id", "z_n", "z")


def _lifetime(spark, sf_dir, chunked):
    # expanding lifetime-to-date features (temporal.expanding_agg): per
    # event, the user's strictly-prior event count, exact frozen-int
    # value sum, and max value (selection — exact on doubles). The
    # chunked variant carries per-day-chunk totals (min/max carry is
    # legal: expanding aggregates need no inverse) and shares this
    # oracle — chunking invisible.
    ev = load_events(spark, sf_dir)
    ev = ev.withColumn(
        "xf", F.round(F.col("value").cast("double") * F.lit(1 << 20), 0)
        .cast("long"))
    kw = {"chunk_seconds": 86400.0} if chunked else {}
    out = temporal.expanding_agg(
        ev, on="user_id", ts="ts",
        aggs={"n_prior": ("count", "*"), "sum_xf": ("sum", "xf"),
              "max_value": ("max", "value")}, **kw)
    return out.select("event_id", "n_prior", "sum_xf", "max_value")


def q_lifetime_features(spark, sf_dir):
    return _lifetime(spark, sf_dir, False)


def q_lifetime_features_chunked(spark, sf_dir):
    return _lifetime(spark, sf_dir, True)


def q_target_encoding_timesafe(spark, sf_dir):
    # time-safe target encoding (features.target_encode_timesafe): each
    # event's type encoded with the smoothed mean value of the type's
    # STRICTLY-PRIOR events only (expanding_agg frame) — the leakage-
    # free encoder for time-ordered data. One exact-integer division:
    # (s·N + m·S)/((n + m)·N·2^20). Oracle = strictly-before self join
    # + the identical folded expression.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    out = fe.target_encode_timesafe(
        ev, "event_type", "value", ts="ts", smoothing=20)
    return out.select("event_id", "te_ts")


def q_session_features(spark, sf_dir):
    # session-relative block (temporal.session_features): sessionize +
    # 0-based turn-in-session + exact µs since session start, all
    # backward-looking and sharing ONE conv_id exchange (subset-key
    # ClusteredDistribution). Oracle extends the proven sess_seq mirror
    # with the same window functions.
    t, _ = _t_c(spark, sf_dir)
    out = temporal.session_features(t, key="conv_id", ts="ts", gap=1800.0)
    return out.select("conv_id", "turn_idx", "session_seq",
                      "turn_in_session", "us_into_session")


def q_future_features(spark, sf_dir):
    return _future_features(spark, sf_dir, "window")


def q_future_features_prefix(spark, sf_dir):
    return _future_features(spark, sf_dir, "prefix")


def q_last_k_ctx(spark, sf_dir):
    # last-k context gathering (temporal.last_k_join): for each
    # assistant turn, the 3 most recent context rows at or before its
    # ts, exploded to (pos, label, ts, score) rows. One union sweep
    # ranks events AND reads each spine row's as-of rank; the gather is
    # a rank-bucketed equi-join (≤2× duplication, no per-key cartesian).
    # Oracle = INDEPENDENT formulation: rank CTE + ASOF join for rn* +
    # a direct rank-range join.
    t, c = _t_c(spark, sf_dir)
    sp = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    got = temporal.last_k_join(sp, c, k=3)
    ex = got.select(
        "conv_id", "turn_idx",
        F.posexplode("ctx").alias("pos", "__e"))
    return ex.select(
        "conv_id", "turn_idx", F.col("pos").cast("int").alias("pos"),
        F.col("__e.ctx_label").alias("ctx_label"),
        epoch_us(F.col("__e.__rts")).alias("c_us"),
        F.col("__e.ctx_score").alias("ctx_score"))


def q_hll_sliding(spark, sf_dir):
    # sliding-window distinct sketches (sketches.hll_sliding): per role,
    # the HLL registers of distinct texts over the trailing 4 hourly
    # buckets — per-bucket sketch + explode-to-covered-buckets re-max
    # (register max == set-union merge). Exact integers under the
    # cross-engine md5 contract; the oracle is the INDEPENDENT range-join
    # formulation over the raw register rows.
    from towhee_spark.functions import sketches  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return sketches.hll_sliding(
        t, "text", by=["role"], ts="ts", bucket_seconds=3600.0,
        window_buckets=4, p=5)


def q_scd_intervals(spark, sf_dir):
    # SCD-2 validity spans (temporal.validity_intervals): each context
    # change is valid [its ts, next change) per conversation; last
    # version open (NULL end). Composes with interval_join closed='left'
    # — pytest pins that composition ≡ backward asof_join.
    _, c = _t_c(spark, sf_dir)
    iv = temporal.validity_intervals(c, on="conv_id", ts="ts")
    return iv.select("conv_id", "ctx_label",
                     epoch_us("start_ts").alias("s_us"),
                     epoch_us("end_ts").alias("e_us"))


def q_interval_label(spark, sf_dir):
    # interval containment join (temporal.interval_join): every turn is
    # labelled by the context windows [ctx.ts, ctx.ts + 30 min) covering
    # it — time-bucket decomposition equi-join, never a per-key
    # cartesian. closed='left' exercises a non-default bound. Oracle =
    # the INDEPENDENT direct range-predicate join.
    t, c = _t_c(spark, sf_dir)
    iv = c.select(
        "conv_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        F.col("ctx_label").alias("label"))
    out = temporal.interval_join(t, iv, closed="left", chunk_seconds=900.0)
    return out.select("conv_id", "turn_idx", "label",
                      epoch_us("start_ts").alias("s_us"))


def q_tree_flatten(spark, sf_dir):
    # branching-dialog flattening (transcripts.tree_paths): a
    # deterministic tree is derived from the transcripts (turn 0 = root;
    # every 5th turn branches from its grandparent; capped at 64 turns
    # per conv), then every leaf's root-to-leaf chain is emitted as
    # (conv_id, path_id, pos, turn_id). Spark side = pointer doubling
    # (log-depth rounds); the oracle is the INDEPENDENT formulation — a
    # DuckDB recursive CTE walking leaf → root, re-keyed to 0-based pos.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    tree = t.where(F.col("turn_idx") < 64).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_id"),
        F.when(F.col("turn_idx") == 0, F.lit(None).cast("int"))
        .when(F.col("turn_idx") % 5 == 4,
              (F.col("turn_idx") - 2).cast("int"))
        .otherwise((F.col("turn_idx") - 1).cast("int")).alias("parent_id"))
    return tr.tree_paths(tree, max_depth=64)


def q_pit_enrich(spark, sf_dir):
    # feature-store point-in-time enrichment (temporal.point_in_time_
    # enrich): TWO feature tables attached as-of each transcript turn in
    # ONE union sweep (1 exchange, 1 window — vs K sequential asof
    # joins). ctx carries a 1800 s staleness tolerance; aux is the
    # positive-score subset of context renamed. The oracle is the
    # INDEPENDENT formulation: two chained DuckDB ASOF LEFT JOINs.
    t, c = _t_c(spark, sf_dir)
    aux = c.select(
        "conv_id", "ts", F.col("ctx_score").alias("aux_score")
    ).where(F.col("ctx_score") > 0)
    out = temporal.point_in_time_enrich(
        t, {"ctx": c, "aux": aux}, on="conv_id", ts="ts",
        tolerances={"ctx": 1800.0})
    return out.select("conv_id", "turn_idx",
                      "ctx_score", "ctx_label", "aux_score")


def q_range_features(spark, sf_dir):
    return _range_features(spark, sf_dir, "window")


def q_range_features_prefix(spark, sf_dir):
    return _range_features(spark, sf_dir, "prefix")


def q_range_features_prefix_chunked(spark, sf_dir):
    # the prefix impl's hot-key path (chunk_seconds=300): local running
    # sums per (conv, 5-min chunk) + exclusive chunk-totals carry —
    # gated against the SAME oracle (chunking must be invisible).
    return _range_features(spark, sf_dir, "prefix_chunked")


def q_multi_range_features(spark, sf_dir):
    # multi-horizon trailing features (temporal.multi_range_agg): the
    # range_features question asked at TWO horizons (10 min / 1 h) in ONE
    # exchange — every rangeBetween frame shares the same partitionBy/
    # orderBy so Catalyst plans one shuffle + one WindowExec for all of
    # them (vs N sweeps + N−1 join-backs for stacked range_agg calls).
    # Oracle = ONE independent left range-join on the WIDEST band with
    # CASE-gated conditional aggregates for the narrower horizon.
    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("tlen", F.length("text").cast("long"))
    spine = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    out = temporal.multi_range_agg(
        spine, t, on="conv_id", ts="ts",
        windows={"10m": 600.0, "1h": 3600.0},
        aggs={"n_ctx": ("count", "*"), "chars_ctx": ("sum", "tlen")})
    return out.select("conv_id", "turn_idx", "n_ctx_10m", "chars_ctx_10m",
                      "n_ctx_1h", "chars_ctx_1h")


def q_tool_chains(spark, sf_dir):
    # tool-loop islands (transcripts.tool_chains): maximal consecutive
    # tool-turn runs via rn − rn_tool gaps-and-islands; first/last tool
    # by the MAX(CASE WHEN rank=1) argmax convention.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.tool_chains(t)


def q_canned_responses(spark, sf_dir):
    # boilerplate inventory (transcripts.canned_responses): normalized
    # assistant texts recurring in ≥2 distinct conversations — one hash
    # aggregate with countDistinct, output bounded by the canned set.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.canned_responses(t, min_keys=2)


def q_self_repetition(spark, sf_dir):
    # degenerate-loop profile (transcripts.self_repetition): per-conv
    # repeated-turn counts from two stacked hash aggregates (no window,
    # no sort); ratio is ROUND(exact_int/exact_int, 6), one division.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.self_repetition(t)


def q_sft_corpus(spark, sf_dir):
    # the sft_curation preset end-to-end: exact conversation dedup →
    # SFT explode (≤4 context turns) → canned-completion drop (recurs in
    # ≥3 surviving convs) → ≥2-token completions → deterministic 80/10/10
    # CONVERSATION-level split (all of a conv's examples share a split —
    # example-level splitting would leak train completions into val
    # prompts). Each stage is gated individually; this proves the
    # COMPOSITION (curated_corpus twin).
    from towhee_spark.pipelines import pipeline  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    curate = pipeline(
        "sft_curation", max_context_turns=4, canned_min_convs=3,
        min_completion_tokens=2,
        split_weights={"train": 0.8, "val": 0.1, "test": 0.1})
    return curate(t).select(
        "conv_id", "turn_idx", "prompt", "completion",
        "n_context_turns", "example_id", "split")


def q_length_bias(spark, sf_dir):
    # RLHF length-bias diagnostic (transcripts.preference_length_bias)
    # over pairs ranked by a LENGTH-DECOUPLED score (cross-engine 60-bit
    # hash mod 1000) so the fractions are non-trivial; one-row report of
    # exact-int means and fractions, ROUND(·, 6) single divisions.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415
    from towhee_spark.functions.curation import hash60  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn("sc", (hash60(F.col("text")) % 1000).cast("int"))
    pairs = tr.preference_pairs(t, "sc")
    return tr.preference_length_bias(pairs)


def q_refusals(spark, sf_dir):
    # refusal-boilerplate profile (transcripts.refusal_stats over
    # text.REFUSAL_MARKERS). The synthetic corpus contains no refusal
    # phrases, so the gate input plants one deterministically on every
    # 7th turn (mirrored in SQL) — the hash match then covers the regex
    # alternation + counting + ratio, not a table of zeros.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    t = t.withColumn(
        "text",
        F.when(F.col("turn_idx") % 7 == 0,
               F.concat(F.col("text"), F.lit(" I cannot help with that")))
        .otherwise(F.col("text")))
    return tr.refusal_stats(t)


def q_conv_dedup(spark, sf_dir):
    # exact conversation dedup (transcripts.conv_dedup_exact): order-
    # sensitive md5 fingerprint of the (role: normalized-text) turn
    # sequence, lowest-conv representative per group. The fp strings
    # themselves are the gated payload — the oracle rebuilds the exact
    # same byte string (string_agg ORDER BY ts, turn_idx, line) and md5.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.conv_dedup_exact(t)


def q_conv_neardup(spark, sf_dir):
    # near-duplicate conversations (transcripts.conv_neardup_pairs):
    # Jaccard over each conversation's SET of distinct normalized turn
    # texts, exact inverted-index path (the LSH tier is pytest-gated
    # equal to this set and benched separately). Threshold 0.14 sits
    # just under the sf0.01 corpus maximum (0.19) so real pairs flow.
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.conv_neardup_pairs(t, threshold=0.14, method="exact")


def q_hll_registers(spark, sf_dir):
    # HyperLogLog distinct-token sketch per lang (sketches.hll_build):
    # 64 registers (p=6) of max leading-zero rank over the cross-engine
    # md5 hash60 of each token. The register table is exact integers —
    # the oracle rebuilds it bit for bit (reg = h & 63, rank = 55 −
    # bitlen(h >> 6)); the float estimate layer (hll_estimate) stays
    # engine-side (pytest accuracy-gated), the kmeans freeze split.
    from towhee_spark.functions import sketches  # noqa: PLC0415
    from towhee_spark.functions.ranking import _toks  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "lang", F.explode(_toks(F.col("text"))).alias("term"))
    return sketches.hll_build(
        toks, "term", by=["lang"], p=6).select("lang", "reg", "mx")


def q_neardup_static(spark, sf_dir):
    # the streaming near-dup front door (streaming.ops.stream_neardup_static)
    # in its batch face: docs with doc_id%7==3 play the stream, the rest are
    # the static indexed corpus. impl="expr" + hash="md5" is the
    # oracle-reproducible path (the affine MinHash family is exact BIGINT
    # arithmetic on both engines); production pins impl="arrow" (+crc32)
    from towhee_spark.streaming.ops import stream_neardup_static  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stream_neardup_static(
        docs.filter(F.col("doc_id") % 7 == 3),
        ref=docs.filter(F.col("doc_id") % 7 != 3),
        num_hashes=32, bands=8, threshold=0.5, impl="expr",
    )
    return out.select("doc_id", "ref_id", "est_jaccard")


def q_pack_sequences(spark, sf_dir):
    # concat-and-chunk sequence packing at seq_len=256: the sf0.01 corpus
    # fills ~107 packs, every one full except the stream tail, with docs
    # split across boundaries — exercises the two-level prefix sum, the
    # explode over multi-pack docs, and the slice arithmetic
    from towhee_spark.functions.packing import pack_sequences  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, seq_len=256).select(
        "doc_id", "pack_id", "tok_begin", "tok_end", "pack_off")


def q_token_budget(spark, sf_dir):
    # token-budget mixing: en clamps to ~5k of its ~12k tokens, de to ~2k
    # of ~3.5k, fr's 10k budget exceeds its total (full keep, rate clamps
    # to 1), es/zh are unbudgeted (dropped) — every branch exercised
    from towhee_spark.functions import curation  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation.sample_to_token_budget(
        docs, budgets={"en": 5000.0, "de": 2000.0, "fr": 10000.0},
        strata_col="lang")
    return out.select("doc_id", "lang")


def q_tokenize(spark, sf_dir):
    # WordPiece greedy longest-match over a corpus-trained vocab; expr impl
    # (distinct-word candidate join + O(len) greedy replay fold) — the
    # oracle re-derives vocab, longest-match table and the greedy walk
    # (recursive CTE) from the same corpus. max_word_chars=8 keeps the
    # [UNK] path exercised (longer words map to [UNK] on both engines).
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    t = tok.wordpiece_tokenize(docs, vocab, impl="expr", max_word_chars=8)
    return t.select(
        "doc_id", F.posexplode("pieces").alias("pos0", "piece")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "piece")


def q_token_budget_wp(spark, sf_dir):
    # the model-token budget passthrough: budgets counted in WordPiece
    # tokens (count_col=) instead of whitespace words — the subword
    # pipeline feeding the same integer-threshold filter as token_budget
    from towhee_spark.functions import curation  # noqa: PLC0415
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    # the budget op reads its input TWICE (stratum totals, then the hash
    # filter) — cache the narrow count frame so the wp pipeline runs once
    # (tagged for release via the dedup cached-deps convention).
    # impl="arrow" here and in every downstream wp-consumer gate (budget /
    # ppl / encode / chunk / pack×3): the memoized Arrow kernel emits the
    # IDENTICAL piece stream (pytest pins arrow == expr; strings, no float
    # surface) at ~3.7× the chain speed — q_tokenize itself stays on
    # impl="expr" so the native join-plan keeps direct driver coverage
    counts = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "n_tokens").cache()
    out = curation.sample_to_token_budget(
        docs.join(counts, "doc_id"),
        budgets={"en": 8000.0, "de": 3000.0, "fr": 1000000.0},
        strata_col="lang", count_col="n_tokens")
    return dedup._with_cached_deps(  # noqa: SLF001
        out.select("doc_id", "lang"), counts)


def q_bpe_tokenize(spark, sf_dir):
    # BPE: train the merge list on the corpus (24 rounds, each one pair
    # aggregate + 1-row collect — actions at plan build, the kmeans/ivf
    # train convention), then encode with the expr fold. The oracle
    # re-runs the ENTIRE train loop round by round (generated CTE chain —
    # same packed-string replace merge) and reassembles from the final
    # word table, so train AND encode are gated end-to-end.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = tok.bpe_train(docs, n_merges=24)
    t = tok.bpe_encode(docs, merges, impl="expr")
    return t.select(
        "doc_id", F.posexplode("pieces").alias("pos0", "piece")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "piece")


def q_unigram_ppl_wp(spark, sf_dir):
    # the statistical quality tier in MODEL tokens: unigram LM trained and
    # scored over the WordPiece piece stream (lm tokens_col= passthrough) —
    # completes the subword-unit trio (budget / pack / score)
    from towhee_spark.functions import lm  # noqa: PLC0415
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    pieces = tok.wordpiece_tokenize(docs, vocab, impl="arrow",
                                    max_word_chars=8)
    return lm.unigram_perplexity(pieces, tokens_col="pieces")


def q_encode_ids(spark, sf_dir):
    # piece → id: frequency-ranked vocab ids over the WordPiece stream
    # (the numeric face a training shard consumes). expr impl = ONE
    # constant-map projection, zero exchanges past the tokenize; the
    # pieces frame is cached because the id table's train-step collect
    # AND the encode both read it.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    pieces = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "pieces").cache()
    idt = tok.piece_id_table(pieces)
    out = (
        tok.encode_ids(pieces, idt, impl="expr")
        .select("doc_id", F.posexplode("ids").alias("pos0", "piece_id"))
        .select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"),
                "piece_id")
    )
    return dedup._with_cached_deps(out, pieces)  # noqa: SLF001


def q_pack_wp(spark, sf_dir):
    # sequence packing in MODEL tokens: the wp piece counts feed the
    # concat-and-chunk layout through count_col= — budgets, packs and
    # perplexity now all share the subword unit. seq_len=64 < typical doc
    # piece count, so multi-pack spans and mid-pack boundaries are live.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415
    from towhee_spark.functions.packing import pack_sequences  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    # cache the narrow count frame (the token_budget_wp convention):
    # pack_sequences reads its input for the cumsum AND the carry join,
    # and without the cache each read re-runs the Arrow tokenize kernel
    # over the corpus (plan showed 4 ArrowEvalPython subtrees; measured
    # 1.33 → 0.99 s full-row at sf0.1, identical rows)
    counts = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "n_tokens").cache()
    out = pack_sequences(counts, seq_len=64, count_col="n_tokens").select(
        "doc_id", "pack_id", "tok_begin", "tok_end", "pack_off")
    return dedup._with_cached_deps(out, counts)  # noqa: SLF001


def q_chunk_ids(spark, sf_dir):
    # RAG chunking in MODEL tokens: wp pieces → vocab ids → fixed-window
    # id chunks (size=12, overlap=4 — same window rules as chunk_text,
    # asserted by the shared arithmetic). Chunks emitted as CSV strings
    # for the cross-engine value hash.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    pieces = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "pieces").cache()
    idt = tok.piece_id_table(pieces)
    enc = tok.encode_ids(pieces, idt, impl="expr")
    out = (
        enc.select("doc_id",
                   F.explode(tok.chunk_ids("ids", size=12, overlap=4))
                    .alias("c"))
        .select(
            "doc_id", F.col("c.start").alias("start"),
            F.array_join(
                F.transform(F.col("c.part"), lambda x: x.cast("string")),
                ",").alias("ids_csv"))
    )
    return dedup._with_cached_deps(out, pieces)  # noqa: SLF001


def q_packed_shards(spark, sf_dir):
    # END of the training-data pipeline: wp pieces → vocab ids →
    # materialized fixed-length shards (every pack but the tail exactly
    # full, global stream order). The oracle derives packs from global
    # token positions — an independent formulation, not a mirror of the
    # engine's slice/gather mechanics.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415
    from towhee_spark.functions.packing import materialize_packs  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    pieces = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "pieces").cache()
    # materialize_packs reads enc TWICE (layout cumsum + payload join) —
    # cache the narrow (doc_id, ids) frame so the encode transform and
    # the cached-pieces read run once per invocation (packing.py:189)
    enc = tok.encode_ids(
        pieces, tok.piece_id_table(pieces), impl="expr"
    ).select("doc_id", "ids").cache()
    out = materialize_packs(enc, seq_len=64).select(
        "pack_id", "n_fill",
        F.array_join(
            F.transform(F.col("ids"), lambda x: x.cast("string")),
            ",").alias("ids_csv"))
    return dedup._with_cached_deps(out, pieces, enc)  # noqa: SLF001


def q_packed_spans(spark, sf_dir):
    # the shard METADATA a trainer needs for cross-doc attention / loss
    # masks: per-pack document spans (doc_id, off, span_len) emitted by
    # materialize_packs(with_spans=True) from the SAME gather aggregate
    # as the ids. The oracle is the pack LAYOUT re-keyed — a different
    # formulation from the engine's sorted-struct gather.
    from towhee_spark.functions import tokenize as tok  # noqa: PLC0415
    from towhee_spark.functions.packing import materialize_packs  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = tok.wordpiece_vocab(docs, n_words=24, n_suffix=8)
    pieces = tok.wordpiece_tokenize(
        docs, vocab, impl="arrow", max_word_chars=8
    ).select("doc_id", "pieces").cache()
    # cache the narrow encoded frame: materialize_packs reads it twice
    enc = tok.encode_ids(
        pieces, tok.piece_id_table(pieces), impl="expr"
    ).select("doc_id", "ids").cache()
    out = (
        materialize_packs(enc, seq_len=64, with_spans=True)
        .select("pack_id", F.explode("doc_spans").alias("s"))
        .select(
            "pack_id", F.col("s.doc_id").alias("doc_id"),
            F.col("s.off").alias("off"),
            F.col("s.len").alias("span_len"))
    )
    return dedup._with_cached_deps(out, pieces, enc)  # noqa: SLF001


def q_ann_recall(spark, sf_dir):
    # recall@3 of single-probe LSH vs exact brute force, per query — the
    # first-class ANN tuning signal (probes=1 keeps recall < 1 so the
    # numbers are non-trivial); both sides have proven oracles, composed
    from towhee_spark.functions.similarity import ann_recall  # noqa: PLC0415

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    ann = similarity.lsh_topk(qs, embs, k=3, planes=8, probes=1, dim=64,
                              impl="expr")
    ex = similarity.brute_force_topk(qs, embs, k=3)
    return ann_recall(ann, ex)


def q_gopher_quality(spark, sf_dir):
    # Gopher-style keep/drop rule set with per-rule audit booleans; every
    # diagnostic is rounded BEFORE its threshold compare so both engines
    # apply the rules to identical values
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", text.gopher_rules("text", min_words=50).alias("g")
    ).select("doc_id", "g.*")


def q_embed_text(spark, sf_dir):
    # Arrow kernel embedding, emitted as gate-sortable sparse rows
    # (doc_id, dim_idx, val); md5-bucket hash is reproduced exactly in SQL
    from towhee_spark.kernels import embed_text_parity_udf  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = docs.select(
        "doc_id", embed_text_parity_udf(dim=32)(F.col("text")).alias("e")
    )
    ex = emb.select("doc_id", F.posexplode("e").alias("dim_idx", "val"))
    return ex.filter(F.col("val") != 0.0).select(
        "doc_id", "dim_idx", F.round("val", 6).alias("val")
    )


def q_dedup_ngram_capped(spark, sf_dir):
    # production path: shingle doc-frequency cap ON (the anti-blowup lever),
    # cap mirrored in the oracle so the capped semantics are gate-checked
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3, max_shingle_freq=25)


def q_embedding_neardup(spark, sf_dir):
    # OR-amplified hyperplane-blocked cosine near-dup with exact verify; the
    # oracle re-runs the multi-table blocking + 1-bit multi-probe in SQL
    # (seeded plane constants), so the gate checks every stage end-to-end.
    # Gate config (4 tables × 6 planes, probes=2) is sized for a
    # deterministic sf0.01 oracle; production default is 16 × 16 (recall
    # ≈0.96 at cos=0.95, per-table junk-collision 2^-16 — see dedup.py).
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )  # double math end-to-end: bit-parity with the oracle's DOUBLE[] cosine
    return dedup.embedding_neardup_pairs(
        embs, threshold=0.3, block_planes=6, tables=4, probes=2, seed=7, dim=64,
        impl="expr",  # oracle-reproducible signatures; production default is
        # the Arrow matmul kernel (same buckets, ~15x faster — see dedup.py)
    )


def q_simhash_weighted(spark, sf_dir):
    # Charikar tf-WEIGHTED SimHash sketch (weight="count"): per-bit votes
    # weighted by each 3-gram shingle's in-document frequency, md5 60-bit
    # hash so the oracle re-runs the weighted vote + bit-pack in SQL
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = dedup.simhash_sketch(docs, "doc_id", "text", ngram=3,
                              hash="md5", bits=60, weight="count")
    return sk.select(F.col("id").alias("doc_id"), "simhash")


def q_text_repetition(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", text.repetition_ratio("text").alias("rep_ratio"))


def _pii_augmented_text():
    # deterministically plant PII so the scrub path is non-trivially gated
    return F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 555-000-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )


def q_pii_scrub(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = _pii_augmented_text()
    return docs.select(
        "doc_id",
        text.pii_count(t).alias("n_pii"),
        text.pii_scrub(t).alias("scrubbed"),
    )


def q_chunk_text(spark, sf_dir):
    # RAG-style fixed-window chunking (size=12 tokens, overlap=4) — native
    # sequence/slice exprs, one explode; SQL-mirrored window arithmetic
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ch = text.chunk_text("text", size=12, overlap=4)
    return docs.select("doc_id", F.explode(ch).alias("c")).select(
        "doc_id", F.col("c.start").alias("start"), F.col("c.chunk").alias("chunk")
    )


def q_rag_search(spark, sf_dir):
    # end-to-end RAG retrieval, every stage oracle-mirrored: fixed-window
    # chunking → md5-parity embedding (unit-norm) → exact cosine top-2
    # chunks per query (excluding the query's own doc) → retrieved context
    from towhee_spark.kernels import embed_text_parity_udf  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # asNondeterministic: the zero-vector filter references the UDF's
    # output column, and filter pushdown would otherwise evaluate the
    # embed kernel TWICE per row (one ArrowEvalPython below the pushed
    # filter + one in the projection — guide §4.4; measured 4 → 2 Python
    # stages, identical rows). The VALUES stay deterministic; the marker
    # only forbids the optimizer from duplicating the call.
    emb = embed_text_parity_udf(dim=32).asNondeterministic()
    ch = text.chunk_text("text", size=12, overlap=4)
    cindex = (
        docs.select("doc_id", F.explode(ch).alias("c"))
        .select("doc_id", F.col("c.start").alias("start"), F.col("c.chunk").alias("chunk"))
        .withColumn("cv", emb(F.col("chunk")))
        .filter(F.size(F.filter(F.col("cv"), lambda v: v != 0)) > 0)
    )
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), emb(F.col("text")).alias("qv")
    ).filter(F.size(F.filter(F.col("qv"), lambda v: v != 0)) > 0)
    # zero-vector queries (empty text / sign-cancelling tokens) are dropped
    # on BOTH sides: the oracle's qraw CTE excludes them structurally
    # vectors are unit-norm, so dot == cosine
    from towhee_spark.kernels import dot_expr  # noqa: PLC0415

    scored = (
        cindex.join(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id", "doc_id", "start", "chunk",
            F.round(dot_expr(F.col("qv"), F.col("cv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id"), F.col("start")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("query_id", "rank", "doc_id", "start",
                F.round(F.col("score"), 4).alias("score4"), "chunk")
    )


def q_rag_search_lsh(spark, sf_dir, impl="expr"):
    # the RAG composite on the LSH index path (SURVEY §7.2): chunk →
    # md5-parity embed → similarity.lsh_topk over the chunk index (8-plane
    # buckets, 4 probes, exact cosine rerank) → context. Own-document
    # chunks are excluded BEFORE ranking via exclude_fn. The oracle
    # re-runs chunking, sparse embedding, plane bucketing, probing and the
    # rerank in SQL, so the whole index path is gate-checked end-to-end.
    from towhee_spark.kernels import embed_text_parity_udf  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # asNondeterministic: same §4.4 duplicate-evaluation guard as
    # q_rag_search (the zero-vector filter reads the UDF output)
    emb = embed_text_parity_udf(dim=32).asNondeterministic()
    ch = text.chunk_text("text", size=12, overlap=4)
    cindex = (
        docs.select("doc_id", F.explode(ch).alias("c"))
        .select("doc_id", F.col("c.start").alias("start"), F.col("c.chunk").alias("chunk"))
        .withColumn("cv", emb(F.col("chunk")))
        .filter(F.size(F.filter(F.col("cv"), lambda v: v != 0)) > 0)
        .withColumn("cid", F.col("doc_id") * 1_000_000_000 + F.col("start"))  # start < 1e9 for any realistic doc
    )
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), emb(F.col("text")).alias("qv")
    ).filter(F.size(F.filter(F.col("qv"), lambda v: v != 0)) > 0)
    # zero-vector queries dropped on BOTH sides (oracle qraw excludes them)
    top = similarity.lsh_topk(
        qs, cindex, k=2, q_id="query_id", q_vec="qv", i_id="cid", i_vec="cv",
        planes=8, probes=4, dim=32, seed=7, impl=impl,
        exclude_fn=lambda q, m: F.floor(m / 1_000_000_000) != q,
    )
    return (
        top.withColumn("doc_id", F.floor(F.col("match_id") / 1_000_000_000).cast("long"))
        .withColumn("start", F.pmod(F.col("match_id"), F.lit(1_000_000_000)).cast("int"))
        .join(cindex.select("doc_id", "start", "chunk"), ["doc_id", "start"])
        .select("query_id", "rank", "doc_id", "start",
                F.round(F.col("score"), 4).alias("score4"), "chunk")
    )


def q_scan_topk(spark, sf_dir):
    # shuffle-free Arrow scan top-k (scored pairs never shuffle) — same
    # oracle as similarity_topk since the result is the exact top-k
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < 10)
    out = similarity.scan_topk(qs, embs, k=3)
    return out.select("query_id", "match_id", F.round("score", 4).alias("score4"))


# --------------------------------------------------------------------------
# flagship: full transcript feature pipeline


def flagship(spark, sf_dir):
    t, c = _t_c(spark, sf_dir)
    j = asof_join(t, c, direction="backward")
    j = j.withColumn("text_len", F.length("text"))
    j = lag_lead(j, ["text_len"], [1])
    j = locf(j, ["tool"])
    j = sessionize(j, gap=1800.0, seq_out="session_seq")
    return j.select(
        "conv_id", "turn_idx", "role",
        "text_len",
        F.col("text_len_lag1").alias("len_lag1"),
        F.col("tool_ff"),
        "session_seq",
        "ctx_score",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def q_ewma(spark, sf_dir):
    # truncated self-normalizing EWMA (temporal.ewma): Python-literal
    # weights + frame-order folds make the float path bit-identical
    # across engines without integer freezing.
    from towhee_spark import temporal as te  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = te.ewma(ev, by="user_id", ts="ts", col="value",
                  alpha=0.3, w=32, order_extra=("event_id",))
    return out.select("event_id", "user_id", "value", "ewma")


def _ewma_weight_literals(alpha: float = 0.3, w: int = 32) -> tuple[str, str]:
    """The SAME (1−α)^k weight and prefix-denominator doubles temporal.ewma
    uses, rendered as SQL list literals (shortest-roundtrip repr parses to
    the identical double in DuckDB — the LSH-plane-constant pattern)."""
    q = 1.0 - alpha
    weights = [q**k for k in range(w)]
    dens, acc = [], 0.0
    for x in weights:
        acc += x
        dens.append(acc)
    wl = "[" + ", ".join(repr(x) for x in weights) + "]"
    dl = "[" + ", ".join(repr(x) for x in dens) + "]"
    return wl, dl


def q_pmi_pairs(spark, sf_dir):
    # skip-gram collocations (lm.cooccurrence_pmi): PMI as one
    # log-of-ratio over exact integer counts (the tfidf/bigram freeze).
    from towhee_spark.functions import lm as lmod  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lmod.cooccurrence_pmi(docs, window=4, min_pair_count=20)


def q_funnel(spark, sf_dir):
    # subsequence-funnel over tool invocations (transcripts.funnel_steps):
    # how far each conversation gets through error×3 → purchase×2 —
    # discriminative on the gate corpus (steps_reached spread 0..5).
    from towhee_spark.functions import transcripts as tr  # noqa: PLC0415

    t, _ = _t_c(spark, sf_dir)
    return tr.funnel_steps(
        t, ["error", "error", "error", "purchase", "purchase"], col="tool")


def q_fuzzy_pairs(spark, sf_dir):
    # edit-distance near-dup pairs on 96-char prefixes (dedup.fuzzy_pairs);
    # length-band blocking is LOSSLESS (levenshtein >= |Δlen|), so the
    # oracle is the independent all-pairs formulation with only the
    # |Δlen| prefilter — not a mirror of the banding.
    from towhee_spark.functions import dedup as dd  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.fuzzy_pairs(docs, "doc_id", "text", max_dist=5, prefix=96)


def q_resampled(spark, sf_dir):
    # irregular per-user series → hourly grid with linear interpolation
    # (temporal.resample_grid); the oracle is the independent two-ASOF
    # formulation, not a mirror of the union-window mechanics.
    from towhee_spark import temporal as te  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return te.resample_grid(
        ev, by="user_id", ts="ts", values=["value"],
        every=3600.0, method="linear",
    )


def q_target_encoding(spark, sf_dir):
    # smoothed mean-target category table (features.target_stats): the
    # classic high-cardinality encoder as one exact integer ratio
    # (s·N + m·S)/((n+m)·N·2^20) with a single ROUND-6 division.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return fe.target_stats(ev, "event_type", "value", smoothing=20)


def q_target_encoding_loo(spark, sf_dir):
    # leave-one-out row-level target encoding — the anti-leakage
    # training-fold variant; NULL labels fall back to the plain encoding.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = fe.target_encode(ev, "event_type", "value", smoothing=20, loo=True)
    return out.select("event_id", "event_type", "value", "te")


def q_hashed_features(spark, sf_dir):
    # hashing-trick sparse features over mixed categorical/numeric
    # columns; hash60 indexes and signs reproduce bit-for-bit in SQL.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fe.feature_hash(
        docs, "doc_id", ["lang", "source", "n_chars"],
        n_features=64, numeric=["n_chars"],
    )


def q_scaled_features(spark, sf_dir):
    # z-score within event_type + global min-max in one frame; the fit
    # stats are ROUND-6 doubles from exact frozen-integer aggregates, so
    # the apply projection evaluates identically on both engines.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = fe.scale(ev, "value", method="zscore", by="event_type", out_col="z")
    out = fe.scale(out, "value", method="minmax", out_col="mm")
    return out.select("event_id", "z", "mm")


def q_woe_iv(spark, sf_dir):
    # weight-of-evidence + IV over a derived binary label
    # (features.woe_stats); woe is ONE ln of an exact integer ratio
    # (Laplace half-counts), iv_term the single-float-product ROUND-6.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    ev = ev.withColumn("lbl", (F.col("value") > 10).cast("int"))
    return fe.woe_stats(ev, "event_type", "lbl")


def q_count_encoding(spark, sf_dir):
    # count/frequency encoding + rare-category collapse over the ~100-
    # level props.k categorical (counts straddle min_count=100, so both
    # branches of the collapse rule carry rows).
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    ev = ev.withColumn(
        "k", F.get_json_object("props", "$.k").try_cast("int").cast("string"))
    return fe.count_encode(ev, "k", min_count=100)


def q_drift_psi(spark, sf_dir):
    # population-stability drift of value between the first half of
    # January and the rest: exact integer binning on 2^20-frozen values,
    # Laplace half-count probabilities, ln as ONE integer ratio.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    return fe.drift_psi(
        ev, "value", F.col("ts") < F.lit("2024-01-15"),
        lo=0, hi=500, bins=20)


def q_corr_matrix(spark, sf_dir):
    # pairwise Pearson over (value, props.k, hour-of-day): exact frozen
    # sufficient statistics (BIGINT) + the single-float-step corr —
    # sqrt/÷/× over exact integer operands are identical IEEE doubles on
    # both engines.
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    ev = ev.withColumn(
        "hk", F.get_json_object("props", "$.k").try_cast("long"),
    ).withColumn("hr", F.hour("ts").cast("long"))
    return fe.corr_pairs(ev, ["value", "hk", "hr"], bits=12)


def q_time_folds(spark, sf_dir):
    # walk-forward purged CV folds: integer fold assignment + fold start
    # + embargoed training cutoff, all epoch-µs integer math.
    from towhee_spark import temporal as te  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    out = te.time_folds(ev, "ts", k=7, embargo_seconds=3600)
    return out.select("event_id", "fold", "fold_lo_us", "purge_lo_us")


def q_leakage_audit(spark, sf_dir):
    # the north-rule temporal-leakage invariant as a first-class audit:
    # two chained backward as-of enrichments (last purchase, last error
    # per user), then leakage_audit proves n_violations = 0 on both
    # matched-ts columns. The oracle recomputes the enrichment with
    # independent DuckDB ASOF JOINs and aggregates the same audit.
    from towhee_spark import temporal as te  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    sp = ev.select("user_id", "ts", "event_id")
    pur = ev.where(F.col("event_type") == "purchase") \
        .select("user_id", "ts", "value")
    err = ev.where(F.col("event_type") == "error") \
        .select("user_id", "ts", "value")
    f1 = te.asof_join(sp, pur, on="user_id", ts="ts",
                      matched_ts_col="pur_ts", suffix="_p")
    f2 = te.asof_join(f1, err, on="user_id", ts="ts",
                      matched_ts_col="err_ts", suffix="_e")
    return te.leakage_audit(f2, "ts", ["pur_ts", "err_ts"])


def q_stratified(spark, sf_dir):
    # exact-count quota sampling (curation.stratified_sample): keep the
    # quota[stratum] lowest-hash rows per event_type; quotas straddle the
    # stratum sizes at every SF so both the cut and keep-all branches
    # carry rows. Rank is deterministic — ORDER BY (hash60, event_id).
    from towhee_spark.functions import curation as cu  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    out = cu.stratified_sample(
        ev, {"click": 200, "view": 150, "purchase": 50}, "event_type",
        id_col="event_id", salt="strat", default_quota=25, rank_col="rank")
    return out.select("event_id", "event_type", "rank")


def q_stratified_chunked(spark, sf_dir):
    # hot-stratum path: rank = local row_number per (stratum, top-4-bits-
    # of-hash bucket) + exclusive prefix-sum carry — chunking is invisible
    # (shares q_stratified's oracle), the mega-stratum fans out 16-way.
    from towhee_spark.functions import curation as cu  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    out = cu.stratified_sample(
        ev, {"click": 200, "view": 150, "purchase": 50}, "event_type",
        id_col="event_id", salt="strat", default_quota=25, rank_col="rank",
        chunk_bits=4)
    return out.select("event_id", "event_type", "rank")


def q_class_weights(spark, sf_dir):
    # balanced class weights (features.class_weights): exact-integer
    # (n, gn, k) from two stacked hash aggregates, weight = the single
    # ROUND-6 IEEE division gn / (k·n).
    from towhee_spark.functions import features as fe  # noqa: PLC0415

    ev = load_events(spark, sf_dir)
    return fe.class_weights(ev, "event_type")


def q_cohort_retention(spark, sf_dir):
    # cohort retention triangle (temporal.cohort_retention) over the
    # purchase stream at 3-day periods: cohort = first active bucket per
    # user, counts exact, retention the single ROUND-6 division. Oracle
    # recomputes via DISTINCT + MIN instead of the collect_set plan.
    ev = load_events(spark, sf_dir)
    pur = ev.where(F.col("event_type") == "purchase")
    return temporal.cohort_retention(
        pur, key="user_id", ts="ts", period_seconds=3 * 86_400)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's per-round correctness run covers the FIRST
    # 50 entries. Rotation policy: keys that have NEVER appeared in a driver
    # CORRECTNESS artifact go first, then the keys most in need of fresh
    # driver evidence fill the remainder. r06 rotation (VERDICT r05 ask
    # #1): the 24 keys absent from every CORRECTNESS_r01-r05 artifact
    # (computed from the artifacts, not by hand) lead, followed by the 26
    # gates whose code paths this optimization round touched. After the
    # r06 artifact every queries() key has driver-side green evidence
    # within the r05+r06 artifact pair; everything past position 50 is
    # additionally replica-verified via tools/check_correctness.py.
    return {
        # --- r06 window (first 50 = driver correctness coverage): the
        # --- 24 never-driver-covered session-3 keys (VERDICT r05 ask #1),
        # --- then the 26 queries whose code paths this optimization round
        # --- touched (fuzzy hist filter, cosine norm hoisting, tokenizer
        # --- trains, CC union-find, resample frame fix, arrow embed
        # --- kernels) so the driver re-verifies every optimized path. ---
        "token_budget_wp": q_token_budget_wp,
        "truncate_context_chunked": q_truncate_context_chunked,
        "range_features_prefix_chunked": q_range_features_prefix_chunked,
        "multi_range_features": q_multi_range_features,
        "stratified": q_stratified,
        "stratified_chunked": q_stratified_chunked,
        "class_weights": q_class_weights,
        "cohort_retention": q_cohort_retention,
        "future_features": q_future_features,
        "future_features_prefix": q_future_features_prefix,
        "range_quantiles": q_range_quantiles,
        "feature_matrix": q_feature_matrix,
        "calendar_features": q_calendar_features,
        "skew_report": q_skew_report,
        "range_zscore": q_range_zscore,
        "lifetime_features": q_lifetime_features,
        "lifetime_features_chunked": q_lifetime_features_chunked,
        "target_encoding_timesafe": q_target_encoding_timesafe,
        "session_features": q_session_features,
        "asof_nearest": q_asof_nearest,
        "multi_future_features": q_multi_future_features,
        "ecdf_features": q_ecdf,
        "join_coverage": q_join_coverage,
        "rows_features": q_rows_features,
        # --- optimized-this-round keys (window part 2) ---
        "fuzzy_pairs": q_fuzzy_pairs,
        "resampled": q_resampled,
        "semdedup": q_semdedup,
        "embedding_neardup": q_embedding_neardup,
        "minhash_lsh": q_minhash_lsh,
        "conv_neardup": q_conv_neardup,
        "dedup_groups": q_dedup_groups,
        "dedup_best": q_dedup_best,
        "dedup_survivors": q_dedup_survivors,
        "quantized_embeddings": q_quantized_embeddings,
        "dsir_select": q_dsir,
        "tokenize": q_tokenize,
        "bpe_tokenize": q_bpe_tokenize,
        "encode_ids": q_encode_ids,
        "chunk_ids": q_chunk_ids,
        "pack_wp": q_pack_wp,
        "packed_shards": q_packed_shards,
        "packed_spans": q_packed_spans,
        "unigram_ppl_wp": q_unigram_ppl_wp,
        "embed_text": q_embed_text,
        "rag_search": q_rag_search,
        "rag_search_lsh": q_rag_search_lsh,
        "similarity_topk": q_similarity_topk,
        "ivf_topk": q_ivf_topk,
        "lsh_topk": q_lsh_topk,
        "ivfsq_topk": q_ivfsq_topk,
        # --- past the 50-slot window: all driver-covered in r01-r05 ---
        "ann_recall": q_ann_recall,
        "domain_mixture": q_domain_mixture,
        "hard_negatives": q_hard_negatives,
        "hll_registers": q_hll_registers,
        "conv_features": q_conv_features,
        "role_transitions": q_role_transitions,
        "sft_examples": q_sft_examples,
        "curriculum": q_curriculum,
        "data_card": q_data_card,
        "preference_pairs": q_preference_pairs,
        "truncate_context": q_truncate_context,
        "tool_chains": q_tool_chains,
        "canned_responses": q_canned_responses,
        "self_repetition": q_self_repetition,
        "conv_dedup": q_conv_dedup,
        "sft_corpus": q_sft_corpus,
        "length_bias": q_length_bias,
        "refusals": q_refusals,
        "range_features": q_range_features,
        "range_features_prefix": q_range_features_prefix,
        "pit_enrich": q_pit_enrich,
        "interval_label": q_interval_label,
        "scd_intervals": q_scd_intervals,
        "hll_sliding": q_hll_sliding,
        "last_k_ctx": q_last_k_ctx,
        "tree_flatten": q_tree_flatten,
        "target_encoding": q_target_encoding,
        "target_encoding_loo": q_target_encoding_loo,
        "hashed_features": q_hashed_features,
        "scaled_features": q_scaled_features,
        "funnel": q_funnel,
        "pmi_pairs": q_pmi_pairs,
        "ewma_features": q_ewma,
        "woe_iv": q_woe_iv,
        "count_encoding": q_count_encoding,
        "drift_psi": q_drift_psi,
        "corr_matrix": q_corr_matrix,
        "time_folds": q_time_folds,
        "leakage_audit": q_leakage_audit,
        "bfill_chunked": q_bfill_chunked,
        "sessionize": q_sessionize,
        "sessionize_chunked": q_sessionize_chunked,
        "towhee_window_sliding_chunked": q_towhee_window_sliding_chunked,
        "towhee_time_window_exact": q_towhee_time_window_exact,
        "towhee_time_window_exact_chunked": q_towhee_time_window_exact_chunked,
        "dedup_ngram_capped": q_dedup_ngram_capped,
        "scan_topk": q_scan_topk,
        "chunk_text": q_chunk_text,
        "session_stats": q_session_stats,
        "towhee_map": q_towhee_map,
        "towhee_filter": q_towhee_filter,
        "towhee_flat_map": q_towhee_flat_map,
        "towhee_window_count": q_towhee_window_count,
        "towhee_window_sliding": q_towhee_window_sliding,
        "towhee_time_window": q_towhee_time_window,
        "towhee_reduce": q_towhee_reduce,
        "towhee_concat": q_towhee_concat,
        "text_repetition": q_text_repetition,
        "simhash_weighted": q_simhash_weighted,
        "pii_scrub": q_pii_scrub,
        "tpch_q1": q_tpch_q1,
        "tpch_q3ish": q_tpch_q3ish,
        "tpch_q5ish": q_tpch_q5ish,
        "cube_agg": q_cube_agg,
        "topk_orders": q_topk_orders,
        "window_analytics": q_window_analytics,
        "anti_semi_join": q_anti_semi_join,
        "json_extract": q_json_extract,
        "monthly_orders": q_monthly_orders,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "text_stats": q_text_stats,
        "embedding_norms": q_embedding_norms,
        "conv_prompt": q_conv_prompt,
        "quality_score": q_quality,
        "shard_layout": q_shard_layout,
        "pooled_embeddings": q_pooled_embeddings,
        "strip_spans": q_strip_spans,
        "quality_quantile": q_quality_quantile,
        "heavy_hitters": q_heavy_hitters,
        "curated_corpus": q_curated_corpus,
        "tfidf_terms": q_tfidf_terms,
        "bloom_decontaminate": q_bloom_decontaminate,
        "kmeans_assign": q_kmeans,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "classifier_score": q_classifier,
        "bigram_ppl": q_bigram_ppl,
        "simhash_permuted": q_simhash_permuted,
        "pack_sequences": q_pack_sequences,
        "token_budget": q_token_budget,
        "neardup_static": q_neardup_static,
        "duplicate_spans": q_duplicate_spans,
        "unigram_ppl": q_unigram_ppl,
        "rerank": q_rerank,
        "simhash_pairs": q_simhash_pairs,
        "bm25_topk": q_bm25,
        "rrf_hybrid": q_rrf_hybrid,
        "decontaminate": q_decontaminate,
        "hash_split": q_hash_split,
        "sample_by_hash": q_sample_by_hash,
        "gopher_quality": q_gopher_quality,
        "flagship": flagship,
        "asof_backward": q_asof_backward,
        "asof_static": q_asof_static,
        "asof_forward": q_asof_forward,
        "asof_tolerance": q_asof_tolerance,
        "asof_strict": q_asof_strict,
        "lag_lead": q_lag_lead,
        "locf_backfill": q_locf_backfill,
        "locf_chunked": q_locf_chunked,
        "asof_chunked": q_asof_chunked,
        "bfill": q_bfill,
        "lag_lead_chunked": q_lag_lead_chunked,
    }


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql()
    # chunking must be invisible: the hot-key chunked exact time_window is
    # gated against the SAME recurrence-mirror SQL as the unchunked path
    d["towhee_time_window_exact_chunked"] = d["towhee_time_window_exact"]
    d["towhee_window_sliding_chunked"] = d["towhee_window_sliding"]
    d["sessionize_chunked"] = d["sessionize"]
    d["lag_lead_chunked"] = d["lag_lead"]
    d["bfill_chunked"] = d["bfill"]
    d["truncate_context_chunked"] = d["truncate_context"]
    # all range_agg physical strategies answer the same question
    d["range_features_prefix"] = d["range_features"]
    d["range_features_prefix_chunked"] = d["range_features"]
    # the snapshot-broadcast asof must be indistinguishable from asof_join
    d["asof_static"] = d["asof_backward"]
    # hash-bucket chunked quota sampling must be invisible too
    d["stratified_chunked"] = d["stratified"]
    # future_agg's negated-time prefix sweep answers the same question
    d["future_features_prefix"] = d["future_features"]
    # the expanding carry (sum by +, min/max by least/greatest) is invisible
    d["lifetime_features_chunked"] = d["lifetime_features"]
    return d


def _oracle_sql() -> dict[str, str]:
    tok_cnt = (
        "CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE "
        "len(string_split_regex(trim(text), '\\s+')) END"
    )
    norm = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
    sess_seq = f"""
        SELECT conv_id, turn_idx, ts, tool, role, text,
               CAST(SUM(is_new) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS is_new
            FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
        )
    """
    return {
        "asof_backward": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx, c.ctx_score, c.ctx_label
            FROM transcripts t ASOF LEFT JOIN context c
              ON t.conv_id = c.conv_id AND t.ts >= c.ts""",
        "asof_forward": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx, c.ctx_score, c.ctx_label
            FROM transcripts t ASOF LEFT JOIN context c
              ON t.conv_id = c.conv_id AND t.ts <= c.ts""",
        "asof_tolerance": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx,
                   CASE WHEN c.ts IS NOT NULL
                             AND epoch_us(t.ts) - epoch_us(c.ts) <= 1800000000
                        THEN c.ctx_score END AS ctx_score
            FROM transcripts t ASOF LEFT JOIN context c
              ON t.conv_id = c.conv_id AND t.ts >= c.ts""",
        "asof_strict": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx, c.ctx_score
            FROM transcripts t ASOF LEFT JOIN context c
              ON t.conv_id = c.conv_id AND t.ts > c.ts""",
        "lag_lead": f"""{_CTE}
            SELECT conv_id, turn_idx, CAST(length(text) AS INT) AS text_len,
                   lag(CAST(length(text) AS INT), 1) OVER w AS len_lag1,
                   lag(CAST(length(text) AS INT), 2) OVER w AS len_lag2,
                   lead(CAST(length(text) AS INT), 1) OVER w AS len_lead1
            FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)""",
        "locf_backfill": f"""{_CTE}
            SELECT conv_id, turn_idx,
                   last_value(tool IGNORE NULLS) OVER (
                       PARTITION BY conv_id ORDER BY ts, turn_idx
                       ROWS UNBOUNDED PRECEDING) AS tool_ff
            FROM transcripts""",
        "locf_chunked": f"""{_CTE}
            SELECT conv_id, turn_idx,
                   last_value(tool IGNORE NULLS) OVER (
                       PARTITION BY conv_id ORDER BY ts, turn_idx
                       ROWS UNBOUNDED PRECEDING) AS tool_ff
            FROM transcripts""",
        "asof_chunked": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx, c.ctx_score, c.ctx_label
            FROM transcripts t ASOF LEFT JOIN context c
              ON t.conv_id = c.conv_id AND t.ts >= c.ts""",
        "bfill": f"""{_CTE}
            SELECT conv_id, turn_idx,
                   first_value(tool IGNORE NULLS) OVER (
                       PARTITION BY conv_id ORDER BY ts, turn_idx
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tool_bf
            FROM transcripts""",
        "sessionize": f"""{_CTE}
            SELECT conv_id, turn_idx, session_seq FROM ({sess_seq})""",
        "session_features": f"""{_CTE}
            SELECT conv_id, turn_idx, session_seq,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY conv_id, session_seq
                       ORDER BY ts, turn_idx) - 1 AS BIGINT)
                       AS turn_in_session,
                   epoch_us(ts) - MIN(epoch_us(ts)) OVER (
                       PARTITION BY conv_id, session_seq)
                       AS us_into_session
            FROM ({sess_seq})""",
        "session_stats": f"""{_CTE}
            SELECT conv_id, session_seq,
                   COUNT(*) AS n_turns,
                   MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
                   COUNT(tool) AS n_tool_calls
            FROM ({sess_seq}) GROUP BY conv_id, session_seq""",
        "towhee_map": f"""
            SELECT doc_id, CAST({tok_cnt} AS INT) AS tok_cnt,
                   CAST(length(text) AS INT) AS len_chars
            FROM documents""",
        "towhee_filter": f"""
            SELECT doc_id, lang, source FROM documents WHERE {tok_cnt} >= 5""",
        "towhee_flat_map": f"""
            SELECT doc_id, unnest(string_split({norm}, ' ')) AS token FROM documents""",
        "towhee_window_count": """
            SELECT user_id, CAST(floor((rn - 1) / 10) AS INT) AS wid,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            GROUP BY user_id, wid""",
        "towhee_window_sliding": """
            WITH idx AS (
                SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS i
                FROM events
            )
            SELECT user_id, wid, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM idx, UNNEST(range(CAST(greatest(0, ceil((i - 9) / 5.0)) AS BIGINT),
                                   CAST(floor(i / 5.0) AS BIGINT) + 1)) AS u(wid)
            GROUP BY user_id, wid""",
        # NOTE (accepted): this oracle computes lag and the running base
        # max over two independent sorts ordered by ms alone; rows with
        # DUPLICATE (user_id, ts) could order differently between the two
        # CTE sorts (and vs Spark's single shared sort). The events corpus
        # has unique (user_id, ts); tie-bearing corpora would need an
        # explicit tiebreak column threaded through both engines.
        "towhee_time_window_exact": """
            WITH m AS (
                SELECT user_id, value, epoch_us(ts) / 1000.0 AS ms FROM events
            ),
            l AS (
                SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
                FROM m
            ),
            b AS (
                SELECT *, CASE WHEN ms >=
                    CASE WHEN prev IS NULL THEN 3600000.0
                         ELSE floor(prev / 1800000) * 1800000
                              + (CASE WHEN prev - floor(prev / 1800000) * 1800000
                                           < 3600000 THEN 1800000 ELSE 0 END)
                              + 3600000 END
                THEN floor(ms / 1800000) * 1800000 END AS base_evt
                FROM l
            ),
            r AS (
                SELECT *, coalesce(max(base_evt) OVER (
                    PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING
                ), 0.0) AS bb
                FROM b
            ),
            x AS (
                SELECT user_id, value, wid
                FROM r, UNNEST(range(
                    CAST(greatest(bb / 1800000,
                                  floor((ms - 3600000) / 1800000) + 1, 0) AS BIGINT),
                    CAST(floor(ms / 1800000) AS BIGINT) + 1)) AS u(wid)
            )
            SELECT user_id, CAST(wid * 1800 AS BIGINT) AS wstart,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM x GROUP BY user_id, wstart""",
        "towhee_time_window": """
            -- hour_id >= 0 mirrors the Spark path's lo-clamp at window 0:
            -- pre-epoch rows explode to zero windows there
            SELECT user_id, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_id,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events WHERE floor(epoch_us(ts) / 3600000000) >= 0
            GROUP BY user_id, hour_id""",
        "towhee_reduce": """
            SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
                   ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
            FROM events GROUP BY user_id""",
        "towhee_concat": f"""
            SELECT doc_id, CAST({tok_cnt} AS INT) AS tok_cnt, upper(source) AS src_upper
            FROM documents""",
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "tpch_q3ish": """
            SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate""",
        "tpch_q5ish": """
            SELECT n_name,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name""",
        "json_extract": """
            SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events""",
        "monthly_orders": """
            SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
                   COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
            FROM orders GROUP BY 1""",
        "cube_agg": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
        "topk_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""",
        "window_analytics": """
            SELECT event_id, user_id,
                   CAST(rank() OVER w AS INT) AS rnk,
                   CAST(dense_rank() OVER w AS INT) AS drnk,
                   CAST(ntile(4) OVER w AS INT) AS quartile,
                   ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING), 4) AS running_value
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "anti_semi_join": """
            SELECT c_custkey, 'has_orders' AS bucket FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT c_custkey, 'no_orders' AS bucket FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "dedup_exact": f"""
            SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents GROUP BY {norm}""",
        "dedup_ngram_jaccard": _jaccard_pairs_sql(norm, threshold=0.5),
        "dedup_groups": _dedup_groups_sql(norm, threshold=0.5),
        "dedup_survivors": _dedup_groups_sql(norm, threshold=0.5, survivors=True),
        "duplicate_spans": _duplicate_spans_sql(norm, k=8),
        "unigram_ppl": _unigram_ppl_sql(norm),
        "dedup_ngram_capped": _jaccard_pairs_sql(norm, threshold=0.5, cap=25),
        "minhash_lsh": _jaccard_pairs_sql(norm, threshold=0.5),
        "simhash_pairs": _simhash_sql(norm, threshold=0.5, blocks=6, bits=60, max_hamming=16),
        "text_stats": _text_stats_sql(),
        "embedding_norms": """
            SELECT vec_id,
                   ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
            FROM embeddings""",
        "similarity_topk": _topk_sql(),
        "lsh_topk": _lsh_topk_sql(planes=8, probes=4, dim=64, seed=7),
        "ivf_topk": _ivf_topk_sql(nlist=8, nprobe=3, k=3),
        "semdedup": _semdedup_sql(nlist=8, threshold=0.3),
        "kmeans_assign": _kmeans_sql(k=8, iters=2, dim=64),
        "pq_topk": _pq_topk_sql(m=4, ksub=8, k=3, dim=64),
        "ivfpq_topk": _ivfpq_topk_sql(nlist=8, nprobe=3, m=4, ksub=8, k=3, dim=64),
        "classifier_score": _classifier_sql(norm, dim=256),
        "dsir_select": _dsir_sql(norm, dim=256, k=50),
        "bigram_ppl": _bigram_ppl_sql(norm),
        "bm25_topk": _bm25_topk_sql(norm, k=3),
        "rrf_hybrid": _rrf_hybrid_sql(norm, dim=32, kr=10, k=5, c=60),
        "decontaminate": _decontaminate_sql(norm, threshold=3, bench_max=25),
        "bloom_decontaminate": _bloom_decon_sql(
            norm, threshold=3, bench_max=25, m_bits=4096, k=3),
        "tfidf_terms": _tfidf_sql(norm, k=5),
        "curated_corpus": _curated_sql(norm, bench_max=25, min_words=50,
                                       decon_threshold=3),
        "heavy_hitters": _heavy_hitters_sql(norm, depth=4, width=256,
                                            threshold=500),
        "quality_quantile": _quality_quantile_sql(q=0.2),
        "strip_spans": _strip_spans_sql(norm, k=8),
        "pooled_embeddings": _pooled_sql(groups=25, dim=64),
        "dedup_best": _dedup_groups_sql(norm, threshold=0.5, survivors="best"),
        "shard_layout": _shard_layout_sql(n_shards=8),
        "quantized_embeddings": _quantize_sql(),
        "ivfsq_topk": _ivfsq_topk_sql(nlist=8, nprobe=3, k=3),
        "hash_split": _hash_split_sql({"train": 0.8, "val": 0.1, "test": 0.1}),
        "token_budget": _token_budget_sql(
            {"en": 5000.0, "de": 2000.0, "fr": 10000.0}, tok_cnt),
        "pack_sequences": _pack_sequences_sql(tok_cnt, seq_len=256),
        "neardup_static": _neardup_static_sql(norm),
        "sample_by_hash": _sample_by_hash_sql(
            {"en": 0.5, "zh": 0.25}, strata_col="lang", default_rate=0.1),
        "gopher_quality": _gopher_sql(norm, min_words=50),
        "simhash_weighted": _simhash_weighted_sql(norm),
        "simhash_permuted": _simhash_permuted_sql(norm, bits=60, max_hamming=4),
        "embedding_neardup": _neardup_sql(
            block_planes=6, tables=4, probes=2, dim=64, seed=7, threshold=0.3
        ),
        "rag_search": _rag_sql(norm, dim=32, k=2, chunk=12, step=8),
        "rag_search_lsh": _rag_lsh_sql(norm, dim=32, k=2, chunk=12, step=8,
                                       planes=8, probes=4, seed=7),
        "chunk_text": f"""
            WITH t AS (SELECT doc_id, string_split({{norm}}, ' ') AS toks
                       FROM documents WHERE {{norm}} <> '')
            SELECT doc_id, CAST(s AS INT) AS start,
                   array_to_string(toks[s + 1 : s + 12], ' ') AS chunk
            FROM t, UNNEST(range(0, greatest(len(toks) - 5, 0) + 1, 8)) AS u(s)""".format(norm=norm),
        "pii_scrub": _pii_sql(),
        "text_repetition": f"""
            SELECT doc_id,
                   ROUND(CASE WHEN len(string_split({norm}, ' ')) > 0
                         THEN 1.0 - CAST(len(list_distinct(string_split({norm}, ' '))) AS DOUBLE)
                              / len(string_split({norm}, ' '))
                         ELSE 0.0 END, 6) AS rep_ratio
            FROM documents""",
        "scan_topk": _topk_sql(),
        "rerank": _rerank_sql(norm),
        "embed_text": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents WHERE trim(coalesce(text, '')) <> ''
            ),
            h AS (
                SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM toks
            ),
            raw AS (
                SELECT doc_id, CAST(h % 32 AS INT) AS dim_idx,
                       SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) AS v
                FROM h GROUP BY doc_id, dim_idx
                HAVING SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) <> 0
            ),
            norms AS (SELECT doc_id, sqrt(SUM(v * v)) AS nrm FROM raw GROUP BY doc_id)
            SELECT r.doc_id, r.dim_idx, ROUND(r.v / n.nrm, 6) AS val
            FROM raw r JOIN norms n USING (doc_id)""",
        "conv_prompt": f"""{_CTE}
            SELECT conv_id,
                   string_agg(role || ': ' || coalesce(text, ''), chr(10)
                              ORDER BY ts, turn_idx) AS prompt
            FROM transcripts GROUP BY conv_id""",
        "quality_score": _quality_sql(),
        "tokenize": _tokenize_sql(norm),
        "token_budget_wp": _token_budget_wp_sql(
            norm, budgets={"en": 8000.0, "de": 3000.0, "fr": 1000000.0}),
        "ann_recall": _ann_recall_sql(),
        "bpe_tokenize": _bpe_sql(norm, n_merges=24),
        "unigram_ppl_wp": _unigram_ppl_wp_sql(norm),
        "encode_ids": _encode_ids_sql(norm),
        "pack_wp": _pack_wp_sql(norm, seq_len=64),
        "chunk_ids": _chunk_ids_sql(norm, size=12, overlap=4),
        "packed_shards": _packed_shards_sql(norm, seq_len=64),
        "packed_spans": _packed_spans_sql(norm, seq_len=64),
        "domain_mixture": _domain_mixture_sql(MIXTURE_RATES),
        "hard_negatives": _hard_negatives_sql(lo=0.2, hi=0.9, k=3),
        "hll_registers": _hll_registers_sql(norm, p=6),
        "curriculum": _curriculum_sql(n_buckets=4),
        "data_card": _data_card_sql(),
        "last_k_ctx": f"""{_CTE},
            ranked AS (SELECT conv_id, ts, ctx_score, ctx_label,
                              row_number() OVER (PARTITION BY conv_id
                                                 ORDER BY ts) AS rn
                       FROM context),
            star AS (SELECT t.conv_id, t.turn_idx, r.rn AS rn_star
                     FROM (SELECT conv_id, turn_idx, ts FROM transcripts
                           WHERE role = 'assistant') t
                     ASOF LEFT JOIN ranked r
                       ON t.conv_id = r.conv_id AND t.ts >= r.ts)
            SELECT s.conv_id, s.turn_idx,
                   CAST(r.rn - GREATEST(1, s.rn_star - 2) AS INT) AS pos,
                   r.ctx_label, epoch_us(r.ts) AS c_us, r.ctx_score
            FROM star s JOIN ranked r
              ON r.conv_id = s.conv_id
             AND r.rn <= s.rn_star AND r.rn > s.rn_star - 3
        """,
        "hll_sliding": f"""{_CTE},
            hh AS (SELECT role,
                          CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT)
                              AS hb,
                          {_hash60_sql("text", "hll")} AS h
                   FROM transcripts WHERE text IS NOT NULL),
            rr AS (SELECT role, hb, CAST(h & 31 AS INT) AS reg,
                          h >> 5 AS rem
                   FROM hh),
            bk AS (SELECT DISTINCT role, hb AS bucket FROM hh)
            SELECT b.role, b.bucket, r.reg,
                   CAST(MAX(CASE WHEN r.rem = 0 THEN 56
                            ELSE 56 - length(bin(r.rem)) END) AS INT) AS mx
            FROM bk b JOIN rr r
              ON r.role = b.role
             AND r.hb > b.bucket - 4 AND r.hb <= b.bucket
            GROUP BY b.role, b.bucket, r.reg
        """,
        "scd_intervals": f"""{_CTE}
            SELECT conv_id, ctx_label, epoch_us(ts) AS s_us,
                   epoch_us(lead(ts) OVER (
                       PARTITION BY conv_id ORDER BY ts)) AS e_us
            FROM context
        """,
        "interval_label": f"""{_CTE}
            SELECT t.conv_id, t.turn_idx, c.ctx_label AS label,
                   epoch_us(c.ts) AS s_us
            FROM transcripts t JOIN context c
              ON t.conv_id = c.conv_id
             AND epoch_us(t.ts) >= epoch_us(c.ts)
             AND epoch_us(t.ts) <  epoch_us(c.ts) + 1800000000
        """,
        "tree_flatten": f"""{_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
            tree AS (
                SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_id,
                       CASE WHEN turn_idx = 0 THEN NULL
                            WHEN turn_idx % 5 = 4
                                THEN CAST(turn_idx - 2 AS INTEGER)
                            ELSE CAST(turn_idx - 1 AS INTEGER)
                       END AS parent_id
                FROM transcripts WHERE turn_idx < 64),
            leaves AS (
                SELECT t.conv_id, t.turn_id FROM tree t
                LEFT JOIN tree c
                  ON c.conv_id = t.conv_id AND c.parent_id = t.turn_id
                WHERE c.turn_id IS NULL),
            walk AS (
                SELECT conv_id, turn_id AS path_id, turn_id AS id, 0 AS up
                FROM leaves
                UNION ALL
                SELECT w.conv_id, w.path_id, t.parent_id, w.up + 1
                FROM walk w JOIN tree t
                  ON t.conv_id = w.conv_id AND t.turn_id = w.id
                WHERE t.parent_id IS NOT NULL)
            SELECT w.conv_id, w.path_id,
                   CAST(m.mx - w.up AS INTEGER) AS pos,
                   CAST(w.id AS INTEGER) AS turn_id
            FROM walk w
            JOIN (SELECT conv_id, path_id, MAX(up) AS mx
                  FROM walk GROUP BY conv_id, path_id) m
              ON m.conv_id = w.conv_id AND m.path_id = w.path_id
        """,
        "pit_enrich": f"""{_CTE},
            aux AS (SELECT conv_id, ts, ctx_score AS aux_score
                    FROM context WHERE ctx_score > 0)
            SELECT x.conv_id, x.turn_idx,
                   CASE WHEN x.cts IS NOT NULL AND
                             epoch_us(x.ts) - epoch_us(x.cts) <= 1800000000
                        THEN x.ctx_score END AS ctx_score,
                   CASE WHEN x.cts IS NOT NULL AND
                             epoch_us(x.ts) - epoch_us(x.cts) <= 1800000000
                        THEN x.ctx_label END AS ctx_label,
                   a.aux_score
            FROM (
                SELECT t.conv_id, t.turn_idx, t.ts,
                       c.ts AS cts, c.ctx_score, c.ctx_label
                FROM transcripts t ASOF LEFT JOIN context c
                  ON t.conv_id = c.conv_id AND t.ts >= c.ts
            ) x ASOF LEFT JOIN aux a
              ON x.conv_id = a.conv_id AND x.ts >= a.ts
        """,
        "range_features": f"""{_CTE}
            SELECT s.conv_id, s.turn_idx,
                   CAST(COUNT(e.ts) AS BIGINT)          AS n_ctx,
                   CAST(SUM(length(e.text)) AS BIGINT)  AS chars_ctx
            FROM (SELECT conv_id, turn_idx, ts FROM transcripts
                  WHERE role = 'assistant') s
            LEFT JOIN transcripts e
              ON e.conv_id = s.conv_id
             AND epoch_us(e.ts) >= epoch_us(s.ts) - 600000000
             AND epoch_us(e.ts) <  epoch_us(s.ts)
            GROUP BY s.conv_id, s.turn_idx
        """,
        # last-N-events aggregates: independent rank-range self join on
        # the same (ts, event_id) total order
        "rows_features": """
            WITH b AS (
                SELECT event_id, user_id, value,
                       CAST(ROUND(value * 1048576, 0) AS BIGINT) AS xf,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            )
            SELECT s.event_id,
                   CAST(COUNT(e.rn) AS BIGINT) AS n_last5,
                   CAST(SUM(e.xf) AS BIGINT)   AS sum_xf5,
                   MAX(e.value)                AS max_v5
            FROM b s LEFT JOIN b e
              ON e.user_id = s.user_id
             AND e.rn BETWEEN s.rn - 5 AND s.rn - 1
            GROUP BY 1""",
        # join coverage: distinct-key left joins + flag sums on both
        # sides, exact counts, single ROUND-6 divisions
        "join_coverage": """
            WITH dkr AS (SELECT DISTINCT user_id FROM events
                         WHERE event_type = 'purchase'),
            dkl AS (SELECT DISTINCT user_id FROM events),
            l AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
                       CAST(SUM(CASE WHEN d.user_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_left_matched,
                       CAST(SUM(CASE WHEN e.user_id IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_left_null_key
                FROM events e LEFT JOIN dkr d ON e.user_id = d.user_id
            ),
            r AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
                       CAST(SUM(CASE WHEN d.user_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_right_matched,
                       CAST(SUM(CASE WHEN p.user_id IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_right_null_key
                FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                LEFT JOIN dkl d ON p.user_id = d.user_id
            )
            SELECT n_left, n_right, n_left_matched,
                   ROUND(CAST(n_left_matched AS DOUBLE)
                         / CAST(n_left AS DOUBLE), 6) AS left_match_rate,
                   n_right_matched,
                   ROUND(CAST(n_right_matched AS DOUBLE)
                         / CAST(n_right AS DOUBLE), 6) AS right_match_rate,
                   n_left_null_key, n_right_null_key
            FROM l, r""",
        # ECDF quantile normalization: distinct-frozen-value histogram +
        # running sum, one ROUND-6 division of exact integers
        "ecdf_features": """
            WITH b AS (
                SELECT event_id,
                       CAST(ROUND(value * 1048576, 0) AS BIGINT) AS xf
                FROM events
            ),
            c AS (SELECT xf, COUNT(*) AS n FROM b
                  WHERE xf IS NOT NULL GROUP BY 1),
            cum AS (SELECT xf, CAST(SUM(n) OVER (
                        ORDER BY xf ROWS UNBOUNDED PRECEDING) AS BIGINT)
                        AS cle
                    FROM c),
            g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn FROM c)
            SELECT b.event_id,
                   CASE WHEN b.xf IS NOT NULL
                        THEN ROUND(CAST(cum.cle AS DOUBLE)
                                   / CAST(g.gn AS DOUBLE), 6) END AS ecdf
            FROM b LEFT JOIN cum ON b.xf = cum.xf CROSS JOIN g""",
        # multi-horizon forward labels: widest-band forward LEFT range
        # join + CASE-gated conditional aggregates for the narrow horizon
        "multi_future_features": f"""{_CTE}
            SELECT s.conv_id, s.turn_idx,
                   CAST(COUNT(CASE WHEN epoch_us(e.ts) <=
                                        epoch_us(s.ts) + 600000000
                              THEN e.ts END) AS BIGINT)  AS n_next_10m,
                   CAST(SUM(CASE WHEN epoch_us(e.ts) <=
                                      epoch_us(s.ts) + 600000000
                            THEN length(e.text) END) AS BIGINT)
                       AS chars_next_10m,
                   CAST(COUNT(e.ts) AS BIGINT)           AS n_next_1h,
                   CAST(SUM(length(e.text)) AS BIGINT)   AS chars_next_1h
            FROM (SELECT conv_id, turn_idx, ts FROM transcripts
                  WHERE role = 'user') s
            LEFT JOIN transcripts e
              ON e.conv_id = s.conv_id
             AND epoch_us(e.ts) >  epoch_us(s.ts)
             AND epoch_us(e.ts) <= epoch_us(s.ts) + 3600000000
            GROUP BY s.conv_id, s.turn_idx
        """,
        # nearest asof: backward + forward ASOF joins, pick by exact-µs
        # distance, equal distances resolve backward (the pandas rule)
        "asof_nearest": f"""{_CTE}
            SELECT x.conv_id, x.turn_idx,
                   CASE WHEN x.bts IS NOT NULL AND (f.ts IS NULL OR
                             epoch_us(x.ts) - epoch_us(x.bts)
                             <= epoch_us(f.ts) - epoch_us(x.ts))
                        THEN x.bs ELSE f.ctx_score END AS ctx_score,
                   CASE WHEN x.bts IS NOT NULL AND (f.ts IS NULL OR
                             epoch_us(x.ts) - epoch_us(x.bts)
                             <= epoch_us(f.ts) - epoch_us(x.ts))
                        THEN x.bl ELSE f.ctx_label END AS ctx_label
            FROM (
                SELECT t.conv_id, t.turn_idx, t.ts,
                       b.ts AS bts, b.ctx_score AS bs, b.ctx_label AS bl
                FROM transcripts t ASOF LEFT JOIN context b
                  ON t.conv_id = b.conv_id AND t.ts >= b.ts
            ) x ASOF LEFT JOIN context f
              ON x.conv_id = f.conv_id AND x.ts <= f.ts
        """,
        # time-safe target encoding: strictly-before self join per
        # category + the folded one-division smoothing expression with
        # identical operand shapes to features.target_encode_timesafe
        "target_encoding_timesafe": """
            WITH b AS (
                SELECT event_id, event_type, epoch_us(ts) AS us,
                       CASE WHEN value IS NOT NULL
                            THEN CAST(ROUND(value * 1048576, 0) AS BIGINT)
                       END AS lf
                FROM events
            ),
            e AS (
                SELECT b1.event_id, COUNT(b2.lf) AS n,
                       COALESCE(SUM(b2.lf), 0) AS s
                FROM b b1 LEFT JOIN b b2
                  ON b2.event_type = b1.event_type AND b2.us < b1.us
                GROUP BY 1
            ),
            g AS (SELECT COUNT(value) AS gn,
                         SUM(CAST(ROUND(value * 1048576, 0) AS BIGINT)) AS gs
                  FROM events WHERE value IS NOT NULL)
            SELECT event_id,
                   ROUND(CAST(s * gn + 20 * gs AS DOUBLE)
                         / CAST((n + 20) * gn * 1048576 AS DOUBLE), 6)
                       AS te_ts
            FROM e, g""",
        # expanding lifetime features: independent strictly-before self
        # join; SUM(BIGINT)→HUGEINT cast back (the repo DuckDB rule)
        "lifetime_features": """
            WITH b AS (
                SELECT event_id, user_id, epoch_us(ts) AS us, value,
                       CAST(ROUND(value * 1048576, 0) AS BIGINT) AS xf
                FROM events
            )
            SELECT b1.event_id,
                   CAST(COUNT(b2.us) AS BIGINT) AS n_prior,
                   CAST(SUM(b2.xf) AS BIGINT)   AS sum_xf,
                   MAX(b2.value)                AS max_value
            FROM b b1 LEFT JOIN b b2
              ON b2.user_id = b1.user_id AND b2.us < b1.us
            GROUP BY 1""",
        # trailing z-score: independent self range join; the frozen 2^20
        # scale cancels in z = (n·x − Σx)/√(n·Σx² − (Σx)²); NULL-valued
        # rows score NULL and never enter baselines
        "range_zscore": """
            WITH b AS (
                SELECT event_id, user_id, epoch_us(ts) AS us,
                       CAST(ROUND(value * 1048576, 0) AS BIGINT) AS xf
                FROM events
            ),
            s AS (
                SELECT b1.event_id, b1.xf,
                       COUNT(b2.xf) AS n,
                       COALESCE(SUM(b2.xf), 0) AS s1,
                       COALESCE(SUM(b2.xf * b2.xf), 0) AS s2
                FROM b b1 LEFT JOIN b b2
                  ON b2.user_id = b1.user_id
                 AND b2.us >= b1.us - 3600000000
                 AND b2.us <  b1.us
                 AND b2.xf IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT event_id, CAST(n AS BIGINT) AS z_n,
                   CASE WHEN n >= 2 AND n*s2 - s1*s1 > 0
                        THEN ROUND(CAST(n*xf - s1 AS DOUBLE)
                                   / SQRT(CAST(n*s2 - s1*s1 AS DOUBLE)), 6)
                   END AS z
            FROM s""",
        # wall-clock integer calendar fields; isodow/week are the ISO
        # mirrors of Spark's weekday()+1 / weekofyear
        "calendar_features": """
            SELECT event_id,
                   CAST(hour(ts) AS INT) AS hour,
                   CAST(minute(ts) AS INT) AS minute,
                   CAST(day(ts) AS INT) AS day,
                   CAST(month(ts) AS INT) AS month,
                   CAST(year(ts) AS INT) AS year,
                   CAST(isodow(ts) AS INT) AS iso_dow,
                   CAST(week(ts) AS INT) AS week,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)
                       AS epoch_day,
                   CASE WHEN ts IS NULL THEN NULL
                        WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS is_weekend
            FROM events""",
        # stacked one-pass skew diagnostic: the same (col, value) bag,
        # counts, per-column totals/distincts, top-5 by (n DESC, value)
        "skew_report": """
            WITH st AS (
                SELECT 'event_type' AS col_name,
                       COALESCE(CAST(event_type AS VARCHAR), '__null__')
                           AS key_value
                FROM events
                UNION ALL
                SELECT 'user_id',
                       COALESCE(CAST(user_id AS VARCHAR), '__null__')
                FROM events
            ),
            c AS (SELECT col_name, key_value, COUNT(*) AS n
                  FROM st GROUP BY 1, 2),
            g AS (SELECT col_name, CAST(SUM(n) AS BIGINT) AS total,
                         COUNT(*) AS n_distinct
                  FROM c GROUP BY 1),
            r AS (SELECT c.*,
                         CAST(ROW_NUMBER() OVER (
                             PARTITION BY col_name
                             ORDER BY n DESC, key_value) AS INT) AS rank
                  FROM c)
            SELECT r.col_name, r.key_value, r.n,
                   ROUND(CAST(r.n AS DOUBLE) / CAST(g.total AS DOUBLE), 6)
                       AS share,
                   g.total, g.n_distinct, r.rank
            FROM r JOIN g USING (col_name)
            WHERE rank <= 5""",
        # the training-matrix preset: chain of the three proven mirrors —
        # backward LEFT range join, DuckDB ASOF (pit_enrich's shape),
        # forward LEFT range join — joined on the spine key
        "feature_matrix": f"""{_CTE},
            s AS (SELECT conv_id, turn_idx, ts FROM transcripts
                  WHERE role = 'assistant'),
            f AS (
                SELECT s.conv_id, s.turn_idx, s.ts,
                       CAST(COUNT(e.ts) AS BIGINT)         AS n_ctx_10m,
                       CAST(SUM(length(e.text)) AS BIGINT) AS chars_ctx_10m
                FROM s LEFT JOIN transcripts e
                  ON e.conv_id = s.conv_id
                 AND epoch_us(e.ts) >= epoch_us(s.ts) - 600000000
                 AND epoch_us(e.ts) <  epoch_us(s.ts)
                GROUP BY 1, 2, 3
            ),
            p AS (
                SELECT f.conv_id, f.turn_idx, f.n_ctx_10m, f.chars_ctx_10m,
                       c.ctx_score, c.ts AS ctx_ts
                FROM f ASOF LEFT JOIN context c
                  ON f.conv_id = c.conv_id AND f.ts >= c.ts
            ),
            l AS (
                SELECT s.conv_id, s.turn_idx,
                       CAST(COUNT(e.ts) AS BIGINT) AS n_next
                FROM s LEFT JOIN transcripts e
                  ON e.conv_id = s.conv_id
                 AND epoch_us(e.ts) >  epoch_us(s.ts)
                 AND epoch_us(e.ts) <= epoch_us(s.ts) + 600000000
                GROUP BY 1, 2
            )
            SELECT p.conv_id, p.turn_idx, p.n_ctx_10m, p.chars_ctx_10m,
                   p.ctx_score, p.ctx_ts, l.n_next
            FROM p JOIN l USING (conv_id, turn_idx)
        """,
        # forward-horizon labels: the independent LEFT range join on the
        # strictly-after / closed-horizon band — no mirror of either
        # physical strategy (window frame vs negated-time prefix sweep)
        "future_features": f"""{_CTE}
            SELECT s.conv_id, s.turn_idx,
                   CAST(COUNT(e.ts) AS BIGINT)          AS n_next,
                   CAST(SUM(length(e.text)) AS BIGINT)  AS chars_next
            FROM (SELECT conv_id, turn_idx, ts FROM transcripts
                  WHERE role = 'user') s
            LEFT JOIN transcripts e
              ON e.conv_id = s.conv_id
             AND epoch_us(e.ts) >  epoch_us(s.ts)
             AND epoch_us(e.ts) <= epoch_us(s.ts) + 600000000
            GROUP BY s.conv_id, s.turn_idx
        """,
        # exact rank-selection quantiles over the trailing band: med =
        # element at ceil(n/2) = (n+1)//2, p90 at ceil(9n/10) = (9n+9)//10
        # of the window's values sorted ascending (ties interchangeable —
        # the selected VALUE is well-defined); empty windows NULL via the
        # final left join
        "range_quantiles": f"""{_CTE}
            , s AS (SELECT conv_id, turn_idx, ts FROM transcripts
                    WHERE role = 'assistant'),
            j AS (
                SELECT s.conv_id, s.turn_idx,
                       CAST(length(e.text) AS BIGINT) AS v
                FROM s JOIN transcripts e
                  ON e.conv_id = s.conv_id
                 AND epoch_us(e.ts) >= epoch_us(s.ts) - 600000000
                 AND epoch_us(e.ts) <  epoch_us(s.ts)
                WHERE e.text IS NOT NULL
            ),
            r AS (
                SELECT conv_id, turn_idx, v,
                       ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                          ORDER BY v) AS rn,
                       COUNT(*) OVER (PARTITION BY conv_id, turn_idx) AS n
                FROM j
            ),
            m AS (
                SELECT conv_id, turn_idx,
                       MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_len,
                       MAX(CASE WHEN rn = (9*n + 9) // 10 THEN v END) AS p90_len
                FROM r GROUP BY 1, 2
            )
            SELECT s.conv_id, s.turn_idx, m.med_len, m.p90_len
            FROM s LEFT JOIN m USING (conv_id, turn_idx)
        """,
        "multi_range_features": f"""{_CTE}
            SELECT s.conv_id, s.turn_idx,
                   CAST(COUNT(CASE WHEN epoch_us(e.ts) >=
                                        epoch_us(s.ts) - 600000000
                              THEN e.ts END) AS BIGINT)  AS n_ctx_10m,
                   CAST(SUM(CASE WHEN epoch_us(e.ts) >=
                                      epoch_us(s.ts) - 600000000
                            THEN length(e.text) END) AS BIGINT)
                       AS chars_ctx_10m,
                   CAST(COUNT(e.ts) AS BIGINT)           AS n_ctx_1h,
                   CAST(SUM(length(e.text)) AS BIGINT)   AS chars_ctx_1h
            FROM (SELECT conv_id, turn_idx, ts FROM transcripts
                  WHERE role = 'assistant') s
            LEFT JOIN transcripts e
              ON e.conv_id = s.conv_id
             AND epoch_us(e.ts) >= epoch_us(s.ts) - 3600000000
             AND epoch_us(e.ts) <  epoch_us(s.ts)
            GROUP BY s.conv_id, s.turn_idx
        """,
        "conv_features": f"""{_CTE},
            s AS ({sess_seq}),
            l AS (SELECT *, epoch_us(ts) - epoch_us(lag(ts) OVER (
                      PARTITION BY conv_id ORDER BY ts, turn_idx)) AS lat
                  FROM s)
            SELECT conv_id,
                   COUNT(*) AS n_turns,
                   MAX(session_seq) AS n_sessions,
                   MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
                   COUNT(tool) AS n_tool_calls,
                   COUNT(DISTINCT tool) AS n_tools,
                   CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_turns_user,
                   CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_turns_assistant,
                   CAST(SUM(CASE WHEN role = 'system' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_turns_system,
                   CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_turns_tool,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   ROUND(CAST(SUM(length(text)) AS DOUBLE) / COUNT(*), 6)
                       AS avg_turn_chars,
                   CAST(SUM(CASE WHEN role = 'assistant' AND lat IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_responses,
                   ROUND(CAST(SUM(CASE WHEN role = 'assistant' THEN lat END)
                              AS DOUBLE)
                         / SUM(CASE WHEN role = 'assistant' AND lat IS NOT NULL
                               THEN 1 ELSE 0 END), 6)
                       AS avg_response_latency_us
            FROM l GROUP BY conv_id""",
        "role_transitions": f"""{_CTE}
            SELECT from_role, to_role, COUNT(*) AS n
            FROM (SELECT lag(role) OVER (PARTITION BY conv_id
                                         ORDER BY ts, turn_idx) AS from_role,
                         role AS to_role
                  FROM transcripts)
            WHERE from_role IS NOT NULL
            GROUP BY from_role, to_role""",
        "sft_examples": f"{_CTE}\n{_sft_body_sql('transcripts', k=4)}",
        "preference_pairs": f"""{_CTE},
            {_pref_pairs_sql("CAST(length(text) AS INT)")}
            SELECT * FROM pairs""",
        "length_bias": f"""{_CTE},
            {_pref_pairs_sql(
                "CAST((" + _hash60_sql("text", "") + ") % 1000 AS INT)")}
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(CAST(SUM(length(chosen)) AS DOUBLE) / COUNT(*), 6)
                       AS mean_chosen_len,
                   ROUND(CAST(SUM(length(rejected)) AS DOUBLE) / COUNT(*), 6)
                       AS mean_rejected_len,
                   ROUND(CAST(SUM(CASE WHEN length(chosen) > length(rejected)
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                       AS frac_chosen_longer,
                   ROUND(CAST(SUM(CASE WHEN length(chosen) = length(rejected)
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
                       AS frac_equal_len
            FROM pairs""",
        "truncate_context": f"""{_CTE}
            SELECT conv_id, turn_idx, n_tokens,
                   cum_from_end, cum_from_end <= 32 AS kept
            FROM (
                SELECT conv_id, turn_idx, CAST(tc AS INT) AS n_tokens,
                       CAST(SUM(tc) OVER (PARTITION BY conv_id
                            ORDER BY ts DESC, turn_idx DESC
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS cum_from_end
                FROM (SELECT *, CASE WHEN trim(coalesce(text,'')) = '' THEN 0
                                ELSE len(string_split_regex(trim(text), '\\s+'))
                                END AS tc
                      FROM transcripts)
            )""",
        "tool_chains": f"""{_CTE},
            rn AS (SELECT *, row_number() OVER (PARTITION BY conv_id
                       ORDER BY ts, turn_idx) AS rn FROM transcripts),
            tl AS (SELECT *, rn - row_number() OVER (PARTITION BY conv_id
                       ORDER BY rn) AS island
                   FROM rn WHERE role = 'tool'),
            rk AS (SELECT *,
                       row_number() OVER (PARTITION BY conv_id, island
                           ORDER BY rn) AS rk,
                       row_number() OVER (PARTITION BY conv_id, island
                           ORDER BY rn DESC) AS rkd
                   FROM tl)
            SELECT conv_id,
                   MIN(turn_idx) AS first_turn_idx,
                   MAX(turn_idx) AS last_turn_idx,
                   CAST(COUNT(*) AS BIGINT) AS chain_len,
                   CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_tools,
                   MAX(CASE WHEN rk = 1 THEN tool END) AS first_tool,
                   MAX(CASE WHEN rkd = 1 THEN tool END) AS last_tool
            FROM rk GROUP BY conv_id, island""",
        "canned_responses": f"""{_CTE}
            SELECT trim(regexp_replace(lower(coalesce(text,'')),
                                       '\\s+', ' ', 'g')) AS response,
                   CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
                   CAST(COUNT(*) AS BIGINT) AS n_uses
            FROM transcripts WHERE role = 'assistant'
            GROUP BY 1 HAVING COUNT(DISTINCT conv_id) >= 2""",
        "self_repetition": f"""{_CTE},
            pt AS (SELECT conv_id,
                          trim(regexp_replace(lower(coalesce(text,'')),
                                              '\\s+', ' ', 'g')) AS t,
                          COUNT(*) AS n
                   FROM transcripts GROUP BY 1, 2)
            SELECT conv_id,
                   CAST(SUM(n) AS BIGINT) AS n_turns,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
                   CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_repeats,
                   ROUND(CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n), 6)
                       AS repeat_ratio
            FROM pt GROUP BY conv_id""",
        "conv_dedup": f"""{_CTE},
            {_conv_fps_sql()}
            SELECT MIN(conv_id) AS conv_id, fp,
                   CAST(COUNT(*) AS BIGINT) AS dup_count
            FROM fps GROUP BY fp""",
        "sft_corpus": _sft_corpus_sql(
            k=4, canned_min=3, min_tokens=2,
            weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="sft"),
        "refusals": _refusals_sql(),
        "conv_neardup": f"""{_CTE},
            sh AS (SELECT DISTINCT conv_id AS id,
                          trim(regexp_replace(lower(coalesce(text,'')),
                                              '\\s+', ' ', 'g')) AS shingle
                   FROM transcripts),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON id_a = sa.id
                       JOIN sizes sb ON id_b = sb.id
            WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6)
                  >= CAST(0.14 AS DOUBLE)""",
        "flagship": f"""{_CTE},
            asof_j AS (
                SELECT t.*, c.ctx_score
                FROM transcripts t ASOF LEFT JOIN context c
                  ON t.conv_id = c.conv_id AND t.ts >= c.ts
            ),
            feat AS (
                SELECT conv_id, turn_idx, role, ts, ctx_score,
                       CAST(length(text) AS INT) AS text_len,
                       lag(CAST(length(text) AS INT), 1) OVER w AS len_lag1,
                       last_value(tool IGNORE NULLS) OVER (
                           PARTITION BY conv_id ORDER BY ts, turn_idx
                           ROWS UNBOUNDED PRECEDING) AS tool_ff
                FROM asof_j WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            sess AS (
                SELECT *, CAST(SUM(is_new) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                FROM (SELECT *, CASE WHEN lag(ts) OVER w2 IS NULL
                                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w2) > 1800000000
                                THEN 1 ELSE 0 END AS is_new
                      FROM feat WINDOW w2 AS (PARTITION BY conv_id ORDER BY ts, turn_idx))
            )
            SELECT conv_id, turn_idx, role, text_len, len_lag1, tool_ff,
                   session_seq, ctx_score
            FROM sess""",
        # --- tabular feature engineering (functions/features.py). All
        # --- aggregates are exact integers (labels frozen to
        # --- ROUND(x·2^20) BIGINTs, HUGEINT sums on the DuckDB side,
        # --- DECIMAL(38,0) on Spark's) and every float output is ONE
        # --- ROUND-6 division with identical operand shapes. ---
        "target_encoding": """
            WITH f AS (SELECT event_type,
                              CAST(ROUND(value*1048576, 0) AS BIGINT) AS lf
                       FROM events WHERE value IS NOT NULL),
            g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS gn,
                         CAST(SUM(lf) AS HUGEINT) AS gs FROM f),
            c AS (SELECT event_type, COUNT(*) AS n,
                         CAST(SUM(lf) AS HUGEINT) AS s
                  FROM f GROUP BY event_type)
            SELECT c.event_type, CAST(c.n AS BIGINT) AS n,
                   ROUND(CAST(c.s*g.gn + 20*g.gs AS DOUBLE)
                       / CAST(CAST(c.n + 20 AS HUGEINT)*g.gn*1048576 AS DOUBLE),
                         6) AS te
            FROM c CROSS JOIN g""",
        "target_encoding_loo": """
            WITH f AS (SELECT event_type,
                              CAST(ROUND(value*1048576, 0) AS BIGINT) AS lf
                       FROM events WHERE value IS NOT NULL),
            g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS gn,
                         CAST(SUM(lf) AS HUGEINT) AS gs FROM f),
            c AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                         CAST(SUM(lf) AS HUGEINT) AS s
                  FROM f GROUP BY event_type)
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN (COALESCE(c.n, 0) - own_n + 20) > 0 THEN
                     ROUND(CAST((COALESCE(c.s, 0) - own)*g.gn + 20*g.gs AS DOUBLE)
                         / CAST((COALESCE(c.n, 0) - own_n + 20)*g.gn*1048576 AS DOUBLE),
                           6)
                   END AS te
            FROM (SELECT event_id, event_type, value,
                         CASE WHEN value IS NOT NULL
                              THEN CAST(CAST(ROUND(value*1048576, 0) AS BIGINT) AS HUGEINT)
                              ELSE 0 END AS own,
                         CASE WHEN value IS NOT NULL
                              THEN CAST(1 AS HUGEINT) ELSE 0 END AS own_n
                  FROM events) e
            LEFT JOIN c USING (event_type) CROSS JOIN g""",
        "hashed_features": """
            WITH raw AS (
                SELECT doc_id AS id,
                       ('0x' || substr(md5('lang=' || lang), 1, 15))::BIGINT AS h,
                       CAST(1048576 AS BIGINT) AS w
                FROM documents WHERE lang IS NOT NULL
                UNION ALL
                SELECT doc_id,
                       ('0x' || substr(md5('source=' || source), 1, 15))::BIGINT,
                       CAST(1048576 AS BIGINT)
                FROM documents WHERE source IS NOT NULL
                UNION ALL
                SELECT doc_id,
                       ('0x' || substr(md5('n_chars=' || CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT,
                       CAST(ROUND(n_chars*1048576, 0) AS BIGINT)
                FROM documents WHERE n_chars IS NOT NULL
            )
            SELECT id, (h >> 1) % 64 AS idx,
                   ROUND(CAST(SUM((1 - 2*(h % 2)) * w) AS DOUBLE)
                       / CAST(1048576 AS DOUBLE), 6) AS val
            FROM raw GROUP BY id, (h >> 1) % 64""",
        "scaled_features": """
            WITH f AS (SELECT event_type,
                              CAST(ROUND(value*1048576, 0) AS BIGINT) AS xf
                       FROM events WHERE value IS NOT NULL),
            zs AS (
                SELECT event_type,
                       ROUND(CAST(s AS DOUBLE)/CAST(n*1048576 AS DOUBLE), 6) AS mean6,
                       ROUND(SQRT(ROUND(CAST(n*ss - s*s AS DOUBLE)
                           / CAST(n*n*CAST(1048576 AS HUGEINT)*1048576 AS DOUBLE), 6)), 6) AS std6
                FROM (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                             CAST(SUM(xf) AS HUGEINT) AS s,
                             CAST(SUM(CAST(xf AS HUGEINT)*xf) AS HUGEINT) AS ss
                      FROM f GROUP BY event_type)
            ),
            mm AS (
                SELECT ROUND(CAST(MIN(xf) AS DOUBLE)/CAST(1048576 AS DOUBLE), 6) AS mn6,
                       ROUND(CAST(MAX(xf) AS DOUBLE)/CAST(1048576 AS DOUBLE), 6) AS mx6
                FROM f
            )
            SELECT e.event_id,
                   CASE WHEN zs.std6 > 0
                        THEN ROUND((CAST(e.value AS DOUBLE) - zs.mean6)/zs.std6, 6)
                   END AS z,
                   CASE WHEN (mm.mx6 - mm.mn6) > 0
                        THEN ROUND((CAST(e.value AS DOUBLE) - mm.mn6)/(mm.mx6 - mm.mn6), 6)
                   END AS mm
            FROM events e LEFT JOIN zs USING (event_type) CROSS JOIN mm""",
        # temporal.resample_grid, linear: the INDEPENDENT two-ASOF-join
        # formulation (backward >= picks the exact-time observation, the
        # strict-< forward matches the engine's grid-after-event sort);
        # duplicate (key, ts) observations resolve per column to MAX —
        # the asof_join backward payload rule.
        "resampled": """
            WITH o AS (
                SELECT user_id AS k, epoch_us(ts) AS us, MAX(value) AS v
                FROM events WHERE ts IS NOT NULL
                GROUP BY user_id, epoch_us(ts)
            ),
            b AS (SELECT k, MIN(us) AS mn, MAX(us) AS mx FROM o GROUP BY k),
            g AS (
                SELECT k, UNNEST(range(
                    ((mn + 3600000000 - 1) // 3600000000) * 3600000000,
                    (mx // 3600000000) * 3600000000 + 1,
                    3600000000)) AS gus
                FROM b
                WHERE ((mn + 3600000000 - 1) // 3600000000) * 3600000000
                      <= (mx // 3600000000) * 3600000000
            ),
            ob AS (SELECT * FROM o WHERE v IS NOT NULL),
            p AS (SELECT g.k, g.gus, ob.us AS pus, ob.v AS pv
                  FROM g ASOF LEFT JOIN ob
                  ON g.k = ob.k AND g.gus >= ob.us),
            n AS (SELECT g.k, g.gus, ob.us AS nus, ob.v AS nv
                  FROM g ASOF LEFT JOIN ob
                  ON g.k = ob.k AND g.gus < ob.us)
            SELECT p.k AS user_id, p.gus AS grid_us,
                   CASE WHEN p.pus = p.gus THEN p.pv
                        ELSE ROUND(p.pv + (n.nv - p.pv) *
                             (CAST(p.gus - p.pus AS DOUBLE)
                              / CAST(n.nus - p.pus AS DOUBLE)), 6)
                   END AS value
            FROM p JOIN n ON p.k = n.k AND p.gus = n.gus""",
        # dedup.fuzzy_pairs: independent all-pairs + |Δlen| prefilter
        # (length banding is lossless, so the blocking needs no mirror).
        # ASCII corpus ⇒ DuckDB's byte-level levenshtein == Spark's
        # codepoint-level one.
        "fuzzy_pairs": """
            WITH d AS (SELECT doc_id, substr(text, 1, 96) AS t
                       FROM documents WHERE text IS NOT NULL)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS INT) AS dist
            FROM d a JOIN d b
              ON abs(length(a.t) - length(b.t)) <= 5 AND a.doc_id < b.doc_id
            WHERE levenshtein(a.t, b.t) <= 5""",
        # transcripts.funnel_steps: string_agg + regexp_matches is the
        # DuckDB twin of the doubled-separator packed string + rlike
        # probes; prefix monotonicity makes CASE-from-K-down exact.
        "funnel": f"""{_CTE},
            seq AS (
                SELECT conv_id, COUNT(*) AS n_turns,
                       chr(31) || string_agg(tool, chr(31) || chr(31)
                           ORDER BY ts, turn_idx, tool) || chr(31) AS s
                FROM transcripts WHERE tool IS NOT NULL GROUP BY conv_id
            )
            SELECT conv_id, n_turns,
                   CASE WHEN regexp_matches(s, 'error.*error.*error.*purchase.*purchase') THEN 5
                   WHEN regexp_matches(s, 'error.*error.*error.*purchase') THEN 4
                   WHEN regexp_matches(s, 'error.*error.*error') THEN 3
                   WHEN regexp_matches(s, 'error.*error') THEN 2
                   WHEN regexp_matches(s, 'error') THEN 1
                   ELSE 0 END AS steps_reached,
                   regexp_matches(s, 'error.*error.*error.*purchase.*purchase') AS converted
            FROM seq""",
        # lm.cooccurrence_pmi mirror: positions from the UNNEST(range)
        # subscript trick, pair slots from the offset table, PMI as the
        # single log-of-ratio over HUGEINT-exact counts.
        "pmi_pairs": """
            WITH toks AS (
                SELECT doc_id, pos, toks[pos] AS tok
                FROM (SELECT doc_id,
                             string_split_regex(trim(regexp_replace(
                                 lower(coalesce(text,'')), '\\s+', ' ', 'g')),
                                 ' ') AS toks
                      FROM documents),
                     UNNEST(range(1, len(toks) + 1)) AS u(pos)
                WHERE toks[pos] <> ''
            ),
            ds AS (SELECT UNNEST(range(1, 5)) AS d),
            uni AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
            tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS N FROM toks),
            pairs_raw AS (
                SELECT least(a.tok, b.tok) AS t1, greatest(a.tok, b.tok) AS t2
                FROM toks a CROSS JOIN ds
                JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + ds.d
            ),
            pt AS (SELECT CAST(COUNT(*) AS HUGEINT) AS T FROM pairs_raw),
            pc AS (SELECT t1, t2, COUNT(*) AS cab FROM pairs_raw
                   GROUP BY t1, t2 HAVING COUNT(*) >= 20)
            SELECT pc.t1, pc.t2, CAST(pc.cab AS BIGINT) AS c_pair,
                   ROUND(LN(CAST(CAST(pc.cab AS HUGEINT)*tot.N*tot.N AS DOUBLE)
                          / CAST(CAST(u1.c AS HUGEINT)*u2.c*pt.T AS DOUBLE)),
                         6) AS pmi
            FROM pc JOIN uni u1 ON pc.t1 = u1.tok
                    JOIN uni u2 ON pc.t2 = u2.tok
            CROSS JOIN tot CROSS JOIN pt""",
        # temporal.ewma mirror: windowed list() emits frame order, the
        # fold is list_reduce left-to-right over products of the SAME
        # Python-repr weight doubles — every intermediate bit-identical.
        "ewma_features": f"""
            WITH base AS (
                SELECT user_id, event_id, epoch_us(ts) AS us, value
                FROM events WHERE value IS NOT NULL
            ),
            v AS (
                SELECT user_id, event_id, value,
                       list_reverse(list(value) OVER (
                           PARTITION BY user_id ORDER BY us, event_id
                           ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)) AS l
                FROM base
            )
            SELECT event_id, user_id, value,
                   ROUND(list_reduce(
                             list_transform(generate_series(1, len(l)),
                                            i -> l[i] * c.W[i]),
                             (a, b) -> a + b) / c.D[len(l)], 6) AS ewma
            FROM v CROSS JOIN (
                SELECT {_ewma_weight_literals()[0]} AS W,
                       {_ewma_weight_literals()[1]} AS D) c""",
        # WOE: ln as ONE log of an exact integer ratio (tfidf freeze
        # rule), Laplace half-counts via the 2n+1 integer trick; iv_term
        # = ROUND(exact-rational-double · ROUND-6 woe, 6) — identical
        # operand shapes to features.woe_stats.
        "woe_iv": """
            WITH base AS (
                SELECT event_type,
                       CASE WHEN value > 10 THEN 1 ELSE 0 END AS lbl
                FROM events WHERE value IS NOT NULL
            ),
            per_cat AS (
                SELECT event_type, COUNT(*) AS n,
                       CAST(SUM(lbl) AS BIGINT) AS n_pos
                FROM base GROUP BY 1
            ),
            g AS (SELECT SUM(n) AS gn, SUM(n_pos) AS gp FROM per_cat)
            SELECT event_type, n, n_pos,
                   ROUND(LN(CAST((2*n_pos + 1) * (2*(gn - gp) + 1) AS DOUBLE)
                            / CAST((2*(n - n_pos) + 1) * (2*gp + 1) AS DOUBLE)), 6) AS woe,
                   ROUND((CAST(n_pos*(gn - gp) - (n - n_pos)*gp AS DOUBLE)
                          / CAST(gp*(gn - gp) AS DOUBLE))
                         * ROUND(LN(CAST((2*n_pos + 1) * (2*(gn - gp) + 1) AS DOUBLE)
                                    / CAST((2*(n - n_pos) + 1) * (2*gp + 1) AS DOUBLE)), 6), 6) AS iv_term
            FROM per_cat, g""",
        "count_encoding": """
            WITH per_cat AS (
                SELECT CAST(TRY_CAST(json_extract_string(props, '$.k') AS INT)
                            AS VARCHAR) AS k,
                       COUNT(*) AS n
                FROM events
                WHERE TRY_CAST(json_extract_string(props, '$.k') AS INT) IS NOT NULL
                GROUP BY 1
            ),
            g AS (SELECT SUM(n) AS gn FROM per_cat)
            SELECT k, n, ROUND(CAST(n AS DOUBLE) / CAST(gn AS DOUBLE), 6) AS freq,
                   CASE WHEN n >= 100 THEN k ELSE '__other__' END AS kept
            FROM per_cat, g""",
        # PSI: exact integer binning on 2^20-frozen values (clamp then
        # one nonneg integer division — identical in Spark DIV / DuckDB
        # //), generate_series bin spine so empty bins emit rows,
        # half-count probabilities, ln as ONE integer ratio.
        "drift_psi": """
            WITH base AS (
                SELECT CAST(ROUND(value * 1048576, 0) AS BIGINT) AS xf,
                       CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS b
                FROM events WHERE value IS NOT NULL
            ),
            cnts AS (
                SELECT (GREATEST(0, LEAST(xf, 524288000 - 1)) * 20) // 524288000 AS bin,
                       CAST(SUM(b) AS BIGINT) AS na,
                       CAST(SUM(1 - b) AS BIGINT) AS nc
                FROM base GROUP BY 1
            ),
            tot AS (SELECT SUM(na) AS ta, SUM(nc) AS tb FROM cnts),
            spine AS (SELECT gs.g AS bin, ta, tb
                      FROM generate_series(0, 19) gs(g), tot)
            SELECT s.bin,
                   COALESCE(c.na, 0) AS n_base,
                   COALESCE(c.nc, 0) AS n_cur,
                   ROUND((CAST(2*COALESCE(c.na, 0) + 1 AS DOUBLE) / CAST(2*s.ta + 20 AS DOUBLE)
                          - CAST(2*COALESCE(c.nc, 0) + 1 AS DOUBLE) / CAST(2*s.tb + 20 AS DOUBLE))
                         * ROUND(LN(CAST((2*COALESCE(c.na, 0) + 1) * (2*s.tb + 20) AS DOUBLE)
                                    / CAST((2*COALESCE(c.nc, 0) + 1) * (2*s.ta + 20) AS DOUBLE)), 6), 6) AS psi_term
            FROM spine s LEFT JOIN cnts c USING (bin)""",
        # Pearson pairs: exact 2^12-frozen integer sufficient statistics
        # + the single-float-step corr (sqrt/÷/× over exact integers are
        # identical IEEE doubles) — shapes mirror features.corr_pairs.
        "corr_matrix": """
            WITH base AS (
                SELECT CAST(ROUND(value * 4096, 0) AS BIGINT) AS f0,
                       CAST(ROUND(CAST(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE) * 4096, 0) AS BIGINT) AS f1,
                       CAST(ROUND(CAST(EXTRACT(hour FROM ts) AS DOUBLE) * 4096, 0) AS BIGINT) AS f2
                FROM events
                WHERE value IS NOT NULL
                  AND TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
                  AND ts IS NOT NULL
            ),
            s AS (
                SELECT COUNT(*) AS n,
                       SUM(f0) AS s0, SUM(f0*f0) AS ss0,
                       SUM(f1) AS s1, SUM(f1*f1) AS ss1,
                       SUM(f2) AS s2, SUM(f2*f2) AS ss2,
                       SUM(f0*f1) AS sp01, SUM(f0*f2) AS sp02,
                       SUM(f1*f2) AS sp12
                FROM base
            ),
            pairs AS (
                SELECT 'value' AS col_x, 'hk' AS col_y, n, s0 AS sx, s1 AS sy,
                       sp01 AS sxy, ss0 AS sxx, ss1 AS syy FROM s
                UNION ALL
                SELECT 'value', 'hr', n, s0, s2, sp02, ss0, ss2 FROM s
                UNION ALL
                SELECT 'hk', 'hr', n, s1, s2, sp12, ss1, ss2 FROM s
            )
            SELECT col_x, col_y,
                   CAST(n AS BIGINT) AS n,
                   CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
                   CAST(sxy AS BIGINT) AS sxy,
                   CAST(sxx AS BIGINT) AS sxx, CAST(syy AS BIGINT) AS syy,
                   CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                        THEN ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                                   / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                                      * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
                   END AS corr
            FROM pairs""",
        # fold = ((t−mn)·k) // W, fold_lo = mn + ⌈f·W/k⌉ — the
        # curriculum division-free rank-rule family; all epoch-µs ints.
        "time_folds": """
            WITH b AS (SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
                       FROM events)
            SELECT event_id,
                   CAST(((epoch_us(ts) - mn) * 7) // (mx - mn + 1) AS INT) AS fold,
                   mn + ((((epoch_us(ts) - mn) * 7) // (mx - mn + 1)) * (mx - mn + 1) + 6) // 7 AS fold_lo_us,
                   mn + ((((epoch_us(ts) - mn) * 7) // (mx - mn + 1)) * (mx - mn + 1) + 6) // 7 - 3600000000 AS purge_lo_us
            FROM events, b""",
        # leakage audit over two chained backward ASOF enrichments —
        # the INDEPENDENT DuckDB ASOF JOIN formulation, then the same
        # per-column audit aggregate as temporal.leakage_audit.
        "leakage_audit": """
            WITH pur AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
            err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
            f1 AS (
                SELECT l.user_id, l.ts, p.ts AS pur_ts
                FROM events l ASOF LEFT JOIN pur p
                  ON l.user_id = p.user_id AND p.ts <= l.ts
            ),
            f2 AS (
                SELECT f1.user_id, f1.ts, f1.pur_ts, e.ts AS err_ts
                FROM f1 ASOF LEFT JOIN err e
                  ON f1.user_id = e.user_id AND e.ts <= f1.ts
            ),
            st AS (
                SELECT 'pur_ts' AS ts_col, ts, pur_ts AS t FROM f2
                UNION ALL
                SELECT 'err_ts', ts, err_ts FROM f2
            )
            SELECT ts_col, COUNT(*) AS n_rows, COUNT(t) AS n_matched,
                   CAST(COALESCE(SUM(CASE WHEN epoch_us(t) > epoch_us(ts)
                                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations,
                   MAX(epoch_us(t) - epoch_us(ts)) AS max_skew_us
            FROM st GROUP BY 1""",
        # exact-count quota sampling: rank over (hash60, id) per stratum;
        # the chunked variant shares this SQL (chunking invisible).
        "stratified": f"""
            SELECT event_id, event_type, rank FROM (
                SELECT event_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type
                           ORDER BY {_hash60_sql('event_id', 'strat')},
                                    event_id) AS rank
                FROM events)
            WHERE rank <= CASE event_type
                          WHEN 'click' THEN 200 WHEN 'view' THEN 150
                          WHEN 'purchase' THEN 50 ELSE 25 END""",
        # balanced weights: exact-integer (n, gn, k), ONE ROUND-6 division
        # with the same operand shape as features.class_weights.
        "class_weights": """
            WITH per AS (
                SELECT event_type AS label, COUNT(*) AS n
                FROM events WHERE event_type IS NOT NULL GROUP BY 1
            ),
            g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn, COUNT(*) AS k FROM per)
            SELECT label, n,
                   ROUND(CAST(gn AS DOUBLE) / CAST(k * n AS DOUBLE), 6) AS weight
            FROM per, g""",
        # cohort retention via DISTINCT + MIN (independent of the Spark
        # collect_set plan); buckets = exact epoch-µs integer division.
        "cohort_retention": f"""
            WITH b AS (
                SELECT user_id AS k,
                       epoch_us(ts) // {3 * 86_400 * 1_000_000} AS bk
                FROM events
                WHERE event_type = 'purchase'
                  AND user_id IS NOT NULL AND ts IS NOT NULL
            ),
            pk AS (SELECT k, MIN(bk) AS cohort FROM b GROUP BY 1),
            act AS (SELECT DISTINCT k, bk FROM b),
            agg AS (
                SELECT p.cohort, a.bk - p.cohort AS period_off,
                       COUNT(*) AS n_active
                FROM act a JOIN pk p USING (k) GROUP BY 1, 2
            ),
            sz AS (SELECT cohort, COUNT(*) AS n_cohort FROM pk GROUP BY 1)
            SELECT agg.cohort,
                   CAST(agg.cohort * {3 * 86_400 * 1_000_000} AS BIGINT)
                       AS cohort_lo_us,
                   period_off, n_active, n_cohort,
                   ROUND(CAST(n_active AS DOUBLE)
                         / CAST(n_cohort AS DOUBLE), 6) AS retention
            FROM agg JOIN sz USING (cohort)""",
    }


def _topk_sql() -> str:
    """Exact cosine top-3 oracle, shared by similarity_topk (one-window
    reference), lsh_topk (multi-probe candidates cover the true top-k →
    output equals brute force) and scan_topk (Arrow scan path)."""
    return """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
                SELECT q.query_id, e.vec_id AS match_id,
                       list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))) AS score
                FROM q, embeddings e WHERE e.vec_id != q.query_id
            ),
            ranked AS (
                SELECT query_id, match_id, ROUND(ROUND(score, 6), 4) AS score4,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY ROUND(score, 6) DESC, match_id) AS rank
                FROM scored
            )
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= 3"""


def _hard_negatives_sql(lo: float = 0.2, hi: float = 0.9, k: int = 3) -> str:
    """Oracle for q_hard_negatives: the exact-scan mirror with the band
    filter applied to the ROUND(·, 6) score BEFORE ranking — the same
    engine rule (similarity._band_filter). CAST the band literals to
    DOUBLE so DuckDB compares in IEEE doubles, not exact DECIMAL (the
    top_quantile_by DECIMAL-literal trap)."""
    return f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 10),
            scored AS (
                SELECT q.query_id, e.vec_id AS match_id,
                       ROUND(list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))), 6) AS s6
                FROM q, embeddings e WHERE e.vec_id != q.query_id
            ),
            ranked AS (
                SELECT query_id, match_id, ROUND(s6, 4) AS score4,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY s6 DESC, match_id) AS rank
                FROM scored
                WHERE s6 >= CAST({lo!r} AS DOUBLE) AND s6 < CAST({hi!r} AS DOUBLE)
            )
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _lsh_topk_sql(planes: int = 8, probes: int = 4, dim: int = 64, seed: int = 7) -> str:
    """Oracle that re-runs the multi-probe hyperplane-LSH algorithm in SQL:
    the planes are seeded plan constants (np.default_rng(seed) — identical
    to similarity.lsh_topk's), so bucketing, 1-bit probing, candidate dedup
    and the exact cosine rerank are all reproduced in DuckDB. This gates the
    LSH implementation itself, not just its recall."""
    import numpy as np  # noqa: PLC0415

    pl = np.random.default_rng(seed).normal(size=(planes, dim))
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in pl[p])}]) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    )
    offsets = [0] + [1 << p for p in range(min(probes - 1, planes))]
    probe_list = ", ".join(f"xor(b0, {off})" for off in offsets)
    return f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            b AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM e),
            q AS (SELECT vec_id AS query_id, v AS qv, CAST(bucket AS BIGINT) AS b0
                  FROM b WHERE vec_id < 10),
            pr AS (SELECT query_id, qv, unnest([{probe_list}]) AS bucket FROM q),
            cand AS (
                SELECT DISTINCT p.query_id, i.vec_id AS match_id
                FROM pr p JOIN b i ON i.bucket = p.bucket
                WHERE i.vec_id != p.query_id
            ),
            scored AS (
                SELECT c.query_id, c.match_id,
                       list_dot_product(q.qv, i.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(i.v, i.v))) AS score
                FROM cand c
                JOIN q ON q.query_id = c.query_id
                JOIN e i ON i.vec_id = c.match_id
            ),
            ranked AS (
                SELECT query_id, match_id, ROUND(ROUND(score, 6), 4) AS score4,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY ROUND(score, 6) DESC, match_id) AS rank
                FROM scored
            )
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= 3"""


def _ivf_cell_ctes(nlist: int) -> str:
    """Shared IVF coarse-quantizer CTEs (DuckDB): ``e`` non-null vectors
    as DOUBLE[], ``c`` the ``nlist`` md5-hash-sampled centroids, ``ar``
    every vector's cells ranked by (ROUND(cos,6) DESC, cid ASC), ``cell``
    the rank-1 assignment — the SQL mirror of similarity.ivf_train +
    ivf_assign, reused by the ivf_topk and semdedup oracles so the two
    gates can never drift apart on the quantizer."""
    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE embedding IS NOT NULL),
            c AS (SELECT vec_id AS cid, v AS cv FROM e
                  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                           vec_id
                  LIMIT {nlist}),
            a AS (SELECT e.vec_id, c.cid,
                         ROUND(list_dot_product(e.v, c.cv)
                               / (sqrt(list_dot_product(e.v, e.v))
                                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cs
                  FROM e CROSS JOIN c),
            ar AS (SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cs DESC, cid) AS rn
                   FROM a),
            cell AS (SELECT vec_id, cid AS cell FROM ar WHERE rn = 1)"""


def _semdedup_sql(nlist: int = 8, threshold: float = 0.3) -> str:
    """Oracle that re-runs SemDeDup in SQL: the shared IVF quantizer CTEs,
    then the within-cell ``aid < bid`` self-join, the ROUND(cos,6) >=
    threshold prune and the MIN(aid) representative — mirroring
    dedup.semdedup(impl="expr") stage for stage. All input rows come back
    (LEFT JOINs), so the gate checks survivors AND the dup mapping."""
    return f"""
            WITH {_ivf_cell_ctes(nlist)},
            close_p AS (SELECT x.vec_id AS aid, y.vec_id AS bid
                        FROM cell x
                        JOIN cell y ON x.cell = y.cell AND x.vec_id < y.vec_id
                        JOIN e ea ON ea.vec_id = x.vec_id
                        JOIN e eb ON eb.vec_id = y.vec_id
                        WHERE ROUND(list_dot_product(ea.v, eb.v)
                                    / (sqrt(list_dot_product(ea.v, ea.v))
                                       * sqrt(list_dot_product(eb.v, eb.v))),
                                    6) >= {threshold}),
            dups AS (SELECT bid AS vec_id, MIN(aid) AS dup_of
                     FROM close_p GROUP BY bid)
            SELECT em.vec_id, cl.cell, d.dup_of
            FROM embeddings em
            LEFT JOIN cell cl ON cl.vec_id = em.vec_id
            LEFT JOIN dups d ON d.vec_id = em.vec_id"""


def _kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64,
                scale_bits: int = 20) -> str:
    """Oracle that re-runs Lloyd k-means in SQL, both iterations unrolled:
    init = the md5-lowest-id sample (c0, the _ivf_cell_ctes rule), each
    iteration = argmax-(ROUND(cos,6) DESC, cid ASC) assignment + the
    integer-frozen mean update  SUM(ROUND(v_j·2^20)::BIGINT) / (n·2^20)
    (BIGINT/BIGINT is double division in DuckDB — the same IEEE division
    of exactly-representable ints Python performs in _rebuild_cents), an
    empty cell keeping its previous centroid via per-component COALESCE —
    mirroring clustering.kmeans_train(impl="expr") stage for stage."""
    scale = 1 << scale_bits
    cos = ("ROUND(list_dot_product(e.v, c.cv)"
           " / (sqrt(list_dot_product(e.v, e.v))"
           " * sqrt(list_dot_product(c.cv, c.cv))), 6)")
    ctes = [f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                      FROM embeddings WHERE embedding IS NOT NULL),
            jx AS (SELECT unnest(range(1, {dim + 1})) AS j),
            c0 AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                            vec_id
                   LIMIT {k})"""]
    for i in range(1, iters + 1):
        ctes.append(f"""a{i} AS (SELECT e.vec_id, c.cid, {cos} AS cs
                      FROM e CROSS JOIN c{i - 1} c),
            r{i} AS (SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY cs DESC, cid) AS rn
                     FROM a{i}),
            x{i} AS (SELECT vec_id, cid AS cell FROM r{i} WHERE rn = 1),
            u{i} AS (SELECT x.cell, t.j,
                            SUM(CAST(ROUND(e.v[t.j] * {scale}.0) AS BIGINT)) AS s,
                            COUNT(*) AS n
                     FROM x{i} x JOIN e USING (vec_id) CROSS JOIN jx t
                     GROUP BY x.cell, t.j),
            c{i} AS (SELECT p.cid,
                            list(COALESCE(u.s / (u.n * {scale}), p.cv[t.j])
                                 ORDER BY t.j) AS cv
                     FROM c{i - 1} p
                     CROSS JOIN jx t
                     LEFT JOIN u{i} u ON u.cell = p.cid AND u.j = t.j
                     GROUP BY p.cid)""")
    ctes.append(f"""af AS (SELECT e.vec_id, c.cid, {cos} AS cs
                    FROM e CROSS JOIN c{iters} c),
            rf AS (SELECT vec_id, cid, cs,
                          row_number() OVER (PARTITION BY vec_id
                                             ORDER BY cs DESC, cid) AS rn
                   FROM af),
            ff AS (SELECT vec_id, cid AS cell, cs FROM rf WHERE rn = 1)""")
    return f"""
            WITH {','.join(ctes)}
            SELECT em.vec_id, f.cell, f.cs AS cos6
            FROM embeddings em LEFT JOIN ff f ON f.vec_id = em.vec_id"""


def _pq_topk_sql(m: int = 4, ksub: int = 8, k: int = 3, dim: int = 64) -> str:
    """Oracle that re-runs the PQ ADC algorithm in SQL: codebooks = the
    ksub md5-hash-lowest-id vectors numbered 1..ksub in id order, sliced
    per subspace; encode = per-(vector, subspace) argmax of
    ROUND(dot(v_j, c) - 0.5*||c||², 6) with code-asc tie-break (== argmin
    L2²); score = SUM over subspaces of dot(q_j, cb[code_j]), ranked
    (ROUND(,6) DESC, match_id ASC) — mirroring similarity.pq_adc_topk(
    impl="expr") stage for stage. The ≤{m}-addend score sum is the only
    order-unfixed float reduction and sits ≥5e-11 from every rounding
    boundary (measured, BASELINE.md)."""
    ds = dim // m
    return f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE embedding IS NOT NULL),
            s AS (SELECT vec_id, v,
                         row_number() OVER (ORDER BY vec_id) AS code FROM (
                  SELECT vec_id, v FROM e
                  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                           vec_id
                  LIMIT {ksub})),
            js AS (SELECT unnest(generate_series(0, {m} - 1)) AS j),
            cb AS (SELECT j, code, list_slice(v, j*{ds}+1, (j+1)*{ds}) AS sub
                   FROM s CROSS JOIN js),
            kr AS (SELECT e.vec_id, cb.j, cb.code,
                          row_number() OVER (PARTITION BY e.vec_id, cb.j
                              ORDER BY ROUND(
                                  list_dot_product(
                                      list_slice(e.v, cb.j*{ds}+1, (cb.j+1)*{ds}),
                                      cb.sub)
                                  - 0.5*list_dot_product(cb.sub, cb.sub),
                                  6) DESC, cb.code) AS rn
                   FROM e CROSS JOIN cb),
            enc AS (SELECT vec_id, j, code FROM kr WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
            qtab AS (SELECT q.query_id, cb.j, cb.code,
                            list_dot_product(
                                list_slice(q.qv, cb.j*{ds}+1, (cb.j+1)*{ds}),
                                cb.sub) AS ip
                     FROM q CROSS JOIN cb),
            scored AS (SELECT qt.query_id, en.vec_id AS match_id,
                              SUM(qt.ip) AS raws
                       FROM enc en
                       JOIN qtab qt ON qt.j = en.j AND qt.code = en.code
                       WHERE en.vec_id != qt.query_id
                       GROUP BY qt.query_id, en.vec_id),
            ranked AS (SELECT query_id, match_id,
                              ROUND(ROUND(raws, 6), 4) AS score4,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY ROUND(raws, 6) DESC,
                                                          match_id) AS rank
                       FROM scored)
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _classifier_sql(norm: str, dim: int = 256, bias: float = 0.0) -> str:
    """Oracle that re-runs the hashed linear classifier in SQL: shared
    normalize_text tokenizer, unigram + adjacent-bigram features (DuckDB
    index lambdas are 1-based: slice element i pairs with toks[i+1]),
    hash60 bucket = md5('feat'||f) % dim, weight table re-derived from
    the same md5 formula over generate_series, exact integer/1024 sums,
    mean-pool logit — mirroring classifier.linear_classifier_score stage
    for stage. All sums are exact binary fractions; no margins."""
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            f AS (SELECT doc_id, unnest(toks) AS feat FROM d
                  UNION ALL
                  SELECT doc_id,
                         unnest(list_transform(
                             list_slice(toks, 1, len(toks) - 1),
                             (x, i) -> x || '_' || toks[i + 1])) AS feat
                  FROM d WHERE len(toks) >= 2),
            fb AS (SELECT doc_id,
                          CAST(('0x' || substr(md5('feat' || feat), 1, 15))::BIGINT
                               % {dim} AS INT) AS bucket
                   FROM f),
            w AS (SELECT CAST(b AS INT) AS bucket,
                         (('0x' || substr(md5('w' || CAST(b AS VARCHAR)), 1, 15))::BIGINT
                          % 2001 - 1000) / 1024.0 AS w
                  FROM (SELECT unnest(generate_series(0, {dim} - 1)) AS b)),
            agg AS (SELECT fb.doc_id, SUM(w.w) AS wsum,
                           COUNT(*) AS n_feats
                    FROM fb JOIN w ON w.bucket = fb.bucket
                    GROUP BY fb.doc_id)
            SELECT dd.doc_id,
                   CAST(COALESCE(agg.n_feats, 0) AS BIGINT) AS n_feats,
                   ROUND({bias} + COALESCE(agg.wsum / agg.n_feats, 0.0), 6)
                       AS logit6,
                   ({bias} + COALESCE(agg.wsum / agg.n_feats, 0.0)) >= 0.0
                       AS keep
            FROM documents dd
            LEFT JOIN agg ON agg.doc_id = dd.doc_id"""


def _dsir_sql(norm: str, dim: int = 256, k: int = 50, smoothing: float = 1.0,
              scale_bits: int = 20) -> str:
    """Oracle that re-runs DSIR selection in SQL: the classifier's
    unigram+bigram feature CTEs, per-bucket counts for the en target and
    the full corpus, the add-one-smoothed log-ratio frozen to
    ROUND(lr·2^20) BIGINTs over generate_series, exact integer per-doc
    sums and the (lw_scaled DESC, doc_id ASC) top-k — mirroring
    curation.dsir_select(gumbel=False) stage for stage.

    Measured sign-stability margin (b1658cb discipline, sf0.001/0.01/0.1
    at dim=256): the closest scaled log-ratio to a .5 rounding boundary
    is 3.3e-5 of a unit — 4+ orders above the ~1e-9 cross-engine ln()
    noise at 2^20 scale. Everything after the freeze is exact int64 (sum
    magnitudes ≤ n_feats·max|li| ≈ 2^40, far from overflow)."""
    s = float(smoothing)
    sc = 1 << scale_bits
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            f AS (SELECT doc_id, unnest(toks) AS feat FROM d
                  UNION ALL
                  SELECT doc_id,
                         unnest(list_transform(
                             list_slice(toks, 1, len(toks) - 1),
                             (x, i) -> x || '_' || toks[i + 1])) AS feat
                  FROM d WHERE len(toks) >= 2),
            fb AS (SELECT doc_id,
                          CAST(('0x' || substr(md5('feat' || feat), 1, 15))::BIGINT
                               % {dim} AS INT) AS bucket
                   FROM f),
            ct AS (SELECT fb.bucket, count(*) AS cnt
                   FROM fb JOIN documents dd ON dd.doc_id = fb.doc_id
                   WHERE dd.lang = 'en' GROUP BY fb.bucket),
            cq AS (SELECT bucket, count(*) AS cnt FROM fb GROUP BY bucket),
            tt AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS t FROM ct),
            tq AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS t FROM cq),
            li AS (SELECT b.bucket,
                          CAST(ROUND((ln(COALESCE(ct.cnt, 0) + {s})
                                      - ln(tt.t + {s * dim})
                                      - ln(COALESCE(cq.cnt, 0) + {s})
                                      + ln(tq.t + {s * dim})) * {sc}, 0)
                               AS BIGINT) AS li
                   FROM (SELECT unnest(generate_series(0, {dim} - 1)) AS bucket) b
                   LEFT JOIN ct ON ct.bucket = b.bucket
                   LEFT JOIN cq ON cq.bucket = b.bucket
                   CROSS JOIN tt CROSS JOIN tq),
            agg AS (SELECT fb.doc_id, CAST(SUM(li.li) AS BIGINT) AS lw,
                           COUNT(*) AS nf
                    FROM fb JOIN li ON li.bucket = fb.bucket
                    GROUP BY fb.doc_id),
            allr AS (SELECT dd.doc_id,
                            CAST(COALESCE(agg.nf, 0) AS BIGINT) AS n_feats,
                            CAST(COALESCE(agg.lw, 0) AS BIGINT) AS lw_scaled
                     FROM documents dd
                     LEFT JOIN agg ON agg.doc_id = dd.doc_id),
            ranked AS (SELECT doc_id, n_feats, lw_scaled,
                              row_number() OVER (ORDER BY lw_scaled DESC,
                                                          doc_id) AS rank
                       FROM allr)
            SELECT doc_id, n_feats, lw_scaled,
                   lw_scaled / {float(sc)} AS logweight,
                   CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= {k}"""


def _ivfpq_topk_sql(nlist: int = 8, nprobe: int = 3, m: int = 4,
                    ksub: int = 8, k: int = 3, dim: int = 64) -> str:
    """Oracle for the IVF-PQ composite: the shared IVF quantizer CTEs
    (probe = rank <= nprobe) joined with the PQ encode/lookup-table CTEs
    of _pq_topk_sql — candidates are the probed cells' members, scores
    are the ADC sums of the candidates only. Stage-for-stage mirror of
    similarity.ivfpq_topk(impl="expr")."""
    ds = dim // m
    return f"""
            WITH {_ivf_cell_ctes(nlist)},
            s AS (SELECT vec_id, v,
                         row_number() OVER (ORDER BY vec_id) AS code FROM (
                  SELECT vec_id, v FROM e
                  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                           vec_id
                  LIMIT {ksub})),
            js AS (SELECT unnest(generate_series(0, {m} - 1)) AS j),
            cbk AS (SELECT j, code, list_slice(v, j*{ds}+1, (j+1)*{ds}) AS sub
                    FROM s CROSS JOIN js),
            kr AS (SELECT e.vec_id, cbk.j, cbk.code,
                          row_number() OVER (PARTITION BY e.vec_id, cbk.j
                              ORDER BY ROUND(
                                  list_dot_product(
                                      list_slice(e.v, cbk.j*{ds}+1, (cbk.j+1)*{ds}),
                                      cbk.sub)
                                  - 0.5*list_dot_product(cbk.sub, cbk.sub),
                                  6) DESC, cbk.code) AS rn
                   FROM e CROSS JOIN cbk),
            enc AS (SELECT vec_id, j, code FROM kr WHERE rn = 1),
            qp AS (SELECT vec_id AS query_id, cid AS cell FROM ar
                   WHERE rn <= {nprobe} AND vec_id < 10),
            qtab AS (SELECT e.vec_id AS query_id, cbk.j, cbk.code,
                            list_dot_product(
                                list_slice(e.v, cbk.j*{ds}+1, (cbk.j+1)*{ds}),
                                cbk.sub) AS ip
                     FROM e CROSS JOIN cbk WHERE e.vec_id < 10),
            cand AS (SELECT q.query_id, i.vec_id AS match_id
                     FROM qp q JOIN cell i ON i.cell = q.cell
                     WHERE i.vec_id != q.query_id),
            scored AS (SELECT cd.query_id, cd.match_id, SUM(qt.ip) AS raws
                       FROM cand cd
                       JOIN enc en ON en.vec_id = cd.match_id
                       JOIN qtab qt ON qt.query_id = cd.query_id
                                   AND qt.j = en.j AND qt.code = en.code
                       GROUP BY cd.query_id, cd.match_id),
            ranked AS (SELECT query_id, match_id,
                              ROUND(ROUND(raws, 6), 4) AS score4,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY ROUND(raws, 6) DESC,
                                                          match_id) AS rank
                       FROM scored)
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _ivf_topk_sql(nlist: int = 8, nprobe: int = 3, k: int = 3) -> str:
    """Oracle that re-runs the IVF ANN algorithm in SQL: centroids are the
    nlist index vectors with the lowest cross-engine md5 id hash, every
    vector is assigned to its (ROUND(cos,6) DESC, cid ASC) best centroid,
    queries search their nprobe best cells and the survivors get the exact
    cosine rerank — mirrors similarity.ivf_topk(impl="expr") stage for
    stage, so the gate checks the inverted-file construction itself.

    Measured sign-stability margin (the b1658cb discipline): across
    sf0.001/0.01/0.1 the closest raw cell score to a ROUND(·,6) boundary
    is 2.8e-11 absolute, the smallest rank-1/rank-2 rounded gap is
    1.7e-5, and no vector has tied top cells — cross-engine all-double
    arithmetic differs by ~1e-16 relative, 5 orders below the margin, so
    the rounded argmax is deterministic on this data."""
    return f"""
            WITH {_ivf_cell_ctes(nlist)},
            qp AS (SELECT vec_id AS query_id, cid AS cell FROM ar
                   WHERE rn <= {nprobe} AND vec_id < 10),
            cand AS (SELECT q.query_id, i.vec_id AS match_id
                     FROM qp q JOIN cell i ON i.cell = q.cell
                     WHERE i.vec_id != q.query_id),
            scored AS (SELECT cd.query_id, cd.match_id,
                              list_dot_product(qe.v, ie.v)
                              / (sqrt(list_dot_product(qe.v, qe.v))
                                 * sqrt(list_dot_product(ie.v, ie.v))) AS score
                       FROM cand cd
                       JOIN e qe ON qe.vec_id = cd.query_id
                       JOIN e ie ON ie.vec_id = cd.match_id),
            ranked AS (SELECT query_id, match_id,
                              ROUND(ROUND(score, 6), 4) AS score4,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY ROUND(score, 6) DESC,
                                                          match_id) AS rank
                       FROM scored)
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _ivfsq_topk_sql(nlist: int = 8, nprobe: int = 3, k: int = 3) -> str:
    """Oracle for similarity.ivfsq_topk: the shared IVF quantizer CTEs
    (cells from ORIGINAL vectors — assignment precedes compression, the
    Faiss add-time convention), the quantize mirror's floor-half-up
    int8 reconstruction q·mx/127, and the asymmetric cosine rerank of
    full-precision queries against reconstructed index vectors."""
    return f"""
            WITH {_ivf_cell_ctes(nlist)},
            m AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS mx
                  FROM e),
            r AS (SELECT vec_id,
                         list_transform(v, x ->
                             CAST(FLOOR(x * 127.0 / mx + 0.5) AS INT)
                             * mx / 127.0) AS rv
                  FROM m WHERE mx > 0),
            qp AS (SELECT vec_id AS query_id, cid AS cell FROM ar
                   WHERE rn <= {nprobe} AND vec_id < 10),
            cand AS (SELECT q.query_id, i.vec_id AS match_id
                     FROM qp q JOIN cell i ON i.cell = q.cell
                     WHERE i.vec_id != q.query_id),
            scored AS (SELECT cd.query_id, cd.match_id,
                              list_dot_product(qe.v, ie.rv)
                              / (sqrt(list_dot_product(qe.v, qe.v))
                                 * sqrt(list_dot_product(ie.rv, ie.rv))) AS score
                       FROM cand cd
                       JOIN e qe ON qe.vec_id = cd.query_id
                       JOIN r ie ON ie.vec_id = cd.match_id),
            ranked AS (SELECT query_id, match_id,
                              ROUND(ROUND(score, 6), 4) AS score4,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY ROUND(score, 6) DESC,
                                                          match_id) AS rank
                       FROM scored)
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _bm25_topk_sql(norm: str, k: int = 3, k1: float = 1.2, b: float = 0.75) -> str:
    """Oracle that re-runs Okapi BM25 in SQL — tokenize (via the SHARED
    normalize_text mirror the dedup oracles use, then a plain single-space
    split — no fresh split-regex, so no Java-vs-RE2 \\s divergence),
    postings, doc frequencies, Lucene non-negative idf, length-normalized
    tf, per-pair sum — mirroring functions.ranking.bm25_topk term for
    term. Per-pair sums are ROUND(,6)-ranked and ROUND(,4)-compared (the
    retrieval-gate convention)."""
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            lens AS (SELECT doc_id AS match_id, len(toks) AS dl FROM d),
            post AS (SELECT match_id, tok, count(*) AS tf
                     FROM (SELECT doc_id AS match_id, unnest(toks) AS tok FROM d)
                     GROUP BY match_id, tok),
            dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
            qt AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS tok
                   FROM d WHERE doc_id < 5),
            scored AS (
                SELECT q.query_id, p.match_id,
                       ROUND(SUM(
                           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (p.tf * ({k1} + 1.0))
                           / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl))
                       ), 6) AS score
                FROM post p
                JOIN qt q ON q.tok = p.tok
                JOIN dfreq f ON f.tok = p.tok
                JOIN lens l ON l.match_id = p.match_id
                CROSS JOIN stats s
                GROUP BY q.query_id, p.match_id
            ),
            ranked AS (SELECT query_id, match_id, ROUND(score, 4) AS score4,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY score DESC,
                                                          match_id) AS rank
                       FROM scored)
            SELECT query_id, match_id, score4 FROM ranked WHERE rank <= {k}"""


def _rrf_hybrid_sql(norm: str, dim: int = 32, kr: int = 10, k: int = 5,
                    c: int = 60, k1: float = 1.2, b: float = 0.75) -> str:
    """Oracle that re-runs the FULL hybrid-retrieval composite in SQL:
    the _bm25_topk_sql lexical CTEs (top-``kr`` per query), the _rag_sql
    md5-parity embedding + unit-norm + COALESCE-total cosine dense ranking
    (top-``kr``), then Reciprocal Rank Fusion 1/(c+rank) summed per
    (query, doc) and re-ranked — mirroring q_rrf_hybrid stage for stage.
    The per-pair RRF sum has ≤2 addends (one per ranker), so the double
    arithmetic is order-free and exact across engines; ROUND(,6) + the
    match_id tie-break give both engines the same total order."""
    embed = f"""
                SELECT key1, CAST(h % {dim} AS INT) AS dim_idx,
                       SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) AS v
                FROM (SELECT key1,
                             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                      FROM (SELECT key1,
                                   unnest(string_split_regex(trim(body), '\\s+')) AS tok
                            FROM __SRC__ WHERE trim(coalesce(body, '')) <> ''))
                GROUP BY key1, dim_idx
                HAVING SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) <> 0"""
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            lens AS (SELECT doc_id AS match_id, len(toks) AS dl FROM d),
            post AS (SELECT match_id, tok, count(*) AS tf
                     FROM (SELECT doc_id AS match_id, unnest(toks) AS tok FROM d)
                     GROUP BY match_id, tok),
            dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY tok),
            stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
            qt AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS tok
                   FROM d WHERE doc_id < 5),
            bm_scored AS (
                SELECT q.query_id, p.match_id,
                       ROUND(SUM(
                           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                           * (p.tf * ({k1} + 1.0))
                           / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl))
                       ), 6) AS score
                FROM post p
                JOIN qt q ON q.tok = p.tok
                JOIN dfreq f ON f.tok = p.tok
                JOIN lens l ON l.match_id = p.match_id
                CROSS JOIN stats s
                GROUP BY q.query_id, p.match_id
            ),
            lex AS (SELECT query_id, match_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, match_id) AS rank
                    FROM bm_scored QUALIFY rank <= {kr}),
            draw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, text AS body FROM documents)")}),
            dnorm AS (SELECT key1, sqrt(SUM(v * v)) AS nrm FROM draw GROUP BY key1),
            demb AS (SELECT r.key1 AS match_id, r.dim_idx, r.v / n.nrm AS val
                     FROM draw r JOIN dnorm n ON r.key1 = n.key1),
            qraw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, text AS body FROM documents WHERE doc_id < 5)")}),
            qnorm AS (SELECT key1, sqrt(SUM(v * v)) AS nrm FROM qraw GROUP BY key1),
            qemb AS (SELECT r.key1 AS query_id, r.dim_idx, r.v / n.nrm AS val
                     FROM qraw r JOIN qnorm n ON r.key1 = n.key1),
            vscored AS (
                -- TOTAL over query×doc: structurally-zero pairs score 0.0
                -- exactly like the dense Spark dot, not absent
                SELECT qk.query_id, dk.match_id,
                       ROUND(COALESCE(SUM(q.val * de.val), 0.0), 6) AS score
                FROM (SELECT DISTINCT key1 AS query_id FROM qraw) qk
                CROSS JOIN (SELECT DISTINCT key1 AS match_id FROM draw) dk
                LEFT JOIN qemb q ON q.query_id = qk.query_id
                LEFT JOIN demb de ON de.match_id = dk.match_id
                                 AND de.dim_idx = q.dim_idx
                GROUP BY qk.query_id, dk.match_id
            ),
            vec AS (SELECT query_id, match_id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, match_id) AS rank
                    FROM vscored QUALIFY rank <= {kr}),
            fused AS (
                SELECT query_id, match_id,
                       ROUND(SUM(1.0 / ({c} + rank)), 6) AS score
                FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
                GROUP BY query_id, match_id
            )
            SELECT query_id, match_id, score, rank FROM (
                SELECT query_id, match_id, score,
                       CAST(row_number() OVER (PARTITION BY query_id
                                               ORDER BY score DESC, match_id)
                            AS INT) AS rank
                FROM fused
            ) WHERE rank <= {k}"""


def _decontaminate_sql(norm: str, threshold: int = 3, bench_max: int = 25) -> str:
    """Oracle for curation.decontaminate(n=3, threshold): the gate-proven
    3-gram shingle construction (normalize + short-doc rule, same CTE as
    the dedup mirrors) over the whole table, benchmark = doc_id <
    bench_max, then the same join + per-doc distinct-hit count + MIN
    sample shingle."""
    return f"""
            WITH t AS (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents),
            sh AS (
                SELECT DISTINCT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM t
                )
            ),
            b AS (SELECT DISTINCT shingle FROM sh WHERE id < {bench_max})
            SELECT id AS doc_id, COUNT(*) AS hits, MIN(shingle) AS sample_shingle
            FROM sh JOIN b USING (shingle)
            WHERE id >= {bench_max}
            GROUP BY id HAVING COUNT(*) >= {threshold}"""


def _pooled_sql(groups: int = 25, dim: int = 64, scale_bits: int = 20) -> str:
    """Oracle for clustering.pool_embeddings(mode='mean', quantize_bits):
    the same per-(group, component) integer-frozen sums and the same
    exact-int division, emitted sparse (gid, n_vecs, dim_idx, val)."""
    scale = 1 << scale_bits
    return f"""
            WITH e AS (SELECT vec_id % {groups} AS gid,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE embedding IS NOT NULL),
            jx AS (SELECT unnest(range(1, {dim + 1})) AS j),
            u AS (SELECT gid, t.j,
                         SUM(CAST(ROUND(e.v[t.j] * {scale}.0) AS BIGINT)) AS s,
                         COUNT(*) AS n
                  FROM e CROSS JOIN jx t GROUP BY gid, t.j)
            SELECT gid, CAST(n AS BIGINT) AS n_vecs,
                   CAST(j - 1 AS INT) AS dim_idx,
                   s / (n * {scale}) AS val
            FROM u"""


def _quantize_sql() -> str:
    """Oracle for quantize_embeddings: same mx, same floor-half-up code,
    same dequantized reconstruction — identical scalar double ops on
    identical operands, so codes match bit-for-bit with no margin."""
    return """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE embedding IS NOT NULL),
            m AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS mx
                  FROM e),
            x AS (SELECT vec_id, v, mx,
                         unnest(range(1, CAST(len(v) AS BIGINT) + 1)) AS j
                  FROM m WHERE mx > 0)
            SELECT vec_id, mx AS q_scale, CAST(j - 1 AS INT) AS dim_idx,
                   CAST(FLOOR(v[j] * 127.0 / mx + 0.5) AS INT) AS q,
                   ROUND(CAST(FLOOR(v[j] * 127.0 / mx + 0.5) AS INT)
                         * mx / 127.0, 6) AS xhat6
            FROM x"""


def _shard_layout_sql(n_shards: int = 8, salt: str = "shard") -> str:
    """Oracle for layout.shard_by_hash: same 60-bit hash, same modulo
    shard, same (hash, id) rank within shard."""
    h = _hash60_sql("doc_id", salt)
    return f"""
            SELECT doc_id, lang, shard,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY h, doc_id) AS shard_pos
            FROM (SELECT doc_id, lang, {h} AS h,
                         CAST({h} % {n_shards} AS INT) AS shard
                  FROM documents)"""


def _quality_quantile_sql(q: float = 0.2, scale: int = 1_000_000) -> str:
    """Oracle for curation.top_quantile_by over quality_score: the same
    frozen-score histogram and the same EXACT integer ceil
    k = (num·n + den − 1) // den (q snapped to its decimal rational —
    a float CEIL(q·tot) would diverge: DuckDB parses the literal as
    exact DECIMAL while Spark multiplies doubles), keep-ties filter,
    NULL scores excluded from histogram and total alike."""
    from fractions import Fraction  # noqa: PLC0415

    frac = Fraction(str(q))
    num, den = frac.numerator, frac.denominator
    return f"""
            WITH sc AS (SELECT d.doc_id, d.lang,
                               CAST(ROUND(qs.qscore * {scale}.0) AS BIGINT) AS s,
                               qs.qscore
                        FROM documents d JOIN ({_quality_sql()}) qs
                          ON qs.doc_id = d.doc_id
                        WHERE qs.qscore IS NOT NULL),
            h AS (SELECT lang, s, COUNT(*) AS c FROM sc GROUP BY lang, s),
            cum AS (SELECT lang, s,
                           SUM(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cum,
                           SUM(c) OVER (PARTITION BY lang) AS tot
                    FROM h),
            thr AS (SELECT lang, MAX(s) AS thr FROM cum
                    WHERE cum >= ({num} * tot + {den - 1}) // {den}
                    GROUP BY lang)
            SELECT sc.doc_id, sc.lang, sc.qscore
            FROM sc JOIN thr USING (lang)
            WHERE sc.s >= thr.thr"""


def _heavy_hitters_sql(norm: str, depth: int = 4, width: int = 256,
                       threshold: int = 500, salt: str = "cms") -> str:
    """Oracle for the CMS heavy-hitters gate: build the identical
    depth×width sketch in SQL (md5 60-bit positions, same per-row salts),
    probe every distinct token, est = MIN over rows of COALESCE(cell, 0),
    keep est >= threshold — collision overcounts and all."""
    def pos(r: int) -> str:
        return f"({_hash60_sql('term', f'{salt}{r}')} % {width})"

    build_arms = "\n                  UNION ALL ".join(
        f"SELECT {r} AS r, {pos(r)} AS c FROM tok" for r in range(depth))
    probe_arms = "\n                  UNION ALL ".join(
        f"SELECT term, {r} AS r, {pos(r)} AS c FROM cand" for r in range(depth))
    return f"""
            WITH d AS (SELECT list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            tok AS (SELECT unnest(toks) AS term FROM d),
            cells AS (SELECT r, c, COUNT(*) AS cnt
                      FROM ({build_arms})
                      GROUP BY r, c),
            cand AS (SELECT DISTINCT term FROM tok),
            pr AS ({probe_arms}),
            est AS (SELECT pr.term, MIN(COALESCE(cells.cnt, 0)) AS est
                    FROM pr LEFT JOIN cells USING (r, c)
                    GROUP BY pr.term)
            SELECT term, est FROM est WHERE est >= {threshold}"""


def _data_card_sql(scale: int = 1_000_000) -> str:
    """Oracle for q_data_card: the same one-aggregate card from the
    proven quality / fingerprint / token-count mirrors. Means divide the
    exact integer sums once and ROUND 6 (curation.data_card). SUM(int)
    → HUGEINT in DuckDB — cast back to BIGINT."""
    tok_cnt = ("CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE "
               "len(string_split_regex(trim(text), '\\s+')) END")
    norm = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
    return f"""
            WITH d AS (SELECT lang AS strata,
                              {tok_cnt} AS tc,
                              length(coalesce(text, '')) AS ch,
                              md5({norm}) AS fp,
                              CAST(ROUND(qscore * {scale}, 0) AS BIGINT) AS qi
                       FROM documents JOIN ({_quality_sql()}) USING (doc_id))
            SELECT strata,
                   COUNT(*) AS n_docs,
                   COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
                   CAST(SUM(tc) AS BIGINT) AS n_tokens,
                   CAST(SUM(ch) AS BIGINT) AS total_chars,
                   ROUND(CAST(SUM(tc) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
                   ROUND(CAST(SUM(qi) AS DOUBLE)
                         / (COUNT(*) * CAST({scale} AS DOUBLE)), 6)
                       AS avg_quality
            FROM d GROUP BY strata"""


def _curriculum_sql(n_buckets: int = 4, scale: int = 1_000_000,
                    salt: str = "curr") -> str:
    """Oracle for q_curriculum: re-derives the equal-frequency boundaries
    from the mirrored quality histogram (the SAME integer rank rule
    cum·B >= i·n — layout.curriculum_boundaries), then bucket = count of
    boundaries reached and order_key = hash60(salt||doc_id)."""
    b = n_buckets
    return f"""
            WITH d AS (SELECT doc_id,
                              CAST(ROUND(qscore * {scale}, 0) AS BIGINT) AS s
                       FROM ({_quality_sql()})),
            hist AS (SELECT s, COUNT(*) AS c FROM d
                     WHERE s IS NOT NULL GROUP BY s),
            cum AS (SELECT s, SUM(c) OVER (ORDER BY s) AS cum,
                           SUM(c) OVER () AS n
                    FROM hist),
            bnd AS (SELECT i, MIN(s) AS t
                    FROM (SELECT unnest(range(1, {b})) AS i) ii
                    CROSS JOIN cum
                    WHERE cum * {b} >= i * n
                    GROUP BY i)
            SELECT d.doc_id,
                   CAST(SUM(CASE WHEN d.s >= bnd.t THEN 1 ELSE 0 END) AS INT)
                       AS bucket,
                   {_hash60_sql('d.doc_id', salt)} AS order_key
            FROM d CROSS JOIN bnd
            GROUP BY d.doc_id, d.s"""


def _hll_registers_sql(norm: str, p: int = 6, salt: str = "hll") -> str:
    """Oracle for q_hll_registers: the identical HLL register table in
    SQL — reg = low p bits of hash60(salt||token), rank = (60−p) + 1 −
    bitlen of the remaining bits, bitlen = length(bin(x)) with the
    rem = 0 → rank W+1 special case (bin() is unpadded and bin(0)='0'
    in both engines — sketches._hll_rank)."""
    m, w = 1 << p, 60 - p
    h = _hash60_sql("term", salt)
    return f"""
            WITH d AS (SELECT lang, list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            tok AS (SELECT lang, unnest(toks) AS term FROM d),
            hh AS (SELECT lang, {h} AS h FROM tok),
            rr AS (SELECT lang, CAST(h & {m - 1} AS INT) AS reg,
                          h >> {p} AS rem
                   FROM hh)
            SELECT lang, reg,
                   CAST(MAX(CASE WHEN rem = 0 THEN {w + 1}
                            ELSE {w + 1} - length(bin(rem)) END) AS INT) AS mx
            FROM rr GROUP BY lang, reg"""


def _curated_sql(norm: str, bench_max: int = 25, min_words: int = 50,
                 decon_threshold: int = 3,
                 weights: dict | None = None, salt: str = "split") -> str:
    """Oracle for the pretraining_curation composite: the four stage
    mirrors CHAINED — the gopher mirror nested as a subquery, exact-dedup
    min-id survivors computed among quality-kept docs, the shared shingle
    CTE for decontamination checked on dedup survivors only, and the
    hash_split threshold CASE on what remains — each stage reading the
    previous stage's output exactly as the Spark preset composes them."""
    from towhee_spark.functions.curation import _thresholds  # noqa: PLC0415

    th = _thresholds(weights or {"train": 0.8, "val": 0.1, "test": 0.1})
    cases = " ".join(f"WHEN h < {thr} THEN '{name}'" for name, thr in th[:-1])
    return f"""
            WITH g AS (SELECT doc_id FROM ({_gopher_sql(norm, min_words=min_words)})
                       WHERE keep AND doc_id >= {bench_max}),
            ex AS (SELECT MIN(d.doc_id) AS doc_id
                   FROM documents d JOIN g USING (doc_id)
                   GROUP BY {norm}),
            d2 AS (SELECT d.doc_id, d.lang FROM documents d JOIN ex USING (doc_id)),
            t AS (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents),
            sh AS (
                SELECT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM t
                )
            ),
            shb AS (SELECT DISTINCT shingle FROM sh WHERE id < {bench_max}),
            flag AS (SELECT s.id
                     FROM sh s JOIN d2 ON d2.doc_id = s.id
                     JOIN shb USING (shingle)
                     GROUP BY s.id
                     HAVING COUNT(DISTINCT s.shingle) >= {decon_threshold}),
            d3 AS (SELECT d2.doc_id, d2.lang FROM d2
                   LEFT JOIN flag ON flag.id = d2.doc_id
                   WHERE flag.id IS NULL)
            SELECT doc_id, lang, CASE {cases} ELSE '{th[-1][0]}' END AS split
            FROM (SELECT doc_id, lang, {_hash60_sql("doc_id", salt)} AS h
                  FROM d3)"""


def _tfidf_sql(norm: str, k: int = 5, scale_bits: int = 20) -> str:
    """Oracle for ranking.tfidf_top_terms: the shared tokenizer mirror,
    postings + doc frequencies, the per-term integer freeze
    ROUND((ln((N+1)/(df+1)) + 1)·2^20)::BIGINT (single log-of-ratio, the
    exact expression Spark evaluates), then the all-integer
    (tf·idf_q20 DESC, term ASC) window rank."""
    scale = 1 << scale_bits
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            post AS (SELECT doc_id, tok AS term, count(*) AS tf
                     FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
                     GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM d),
            scored AS (SELECT p.doc_id, p.term, p.tf,
                              p.tf * CAST(ROUND(
                                  (ln((s.n_docs + 1.0) / (f.df + 1.0)) + 1.0)
                                  * {scale}.0) AS BIGINT) AS score_q20
                       FROM post p JOIN dfreq f USING (term) CROSS JOIN n s),
            ranked AS (SELECT doc_id, term, tf, score_q20,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY score_q20 DESC,
                                                          term) AS rank
                       FROM scored)
            SELECT doc_id, term, tf, score_q20, rank
            FROM ranked WHERE rank <= {k}"""


def _bloom_decon_sql(norm: str, threshold: int = 3, bench_max: int = 25,
                     m_bits: int = 4096, k: int = 3,
                     salt: str = "bloom") -> str:
    """Oracle for curation.bloom_decontaminate: the shared shingle CTE,
    then the SAME Bloom construction in SQL — md5 60-bit positions
    mod m_bits, 32-bit words OR-folded, k probes per corpus shingle, a
    shingle maybe-present iff all k distinct probe indexes hit — so the
    oracle reproduces the exact false-positive set, not just the exact
    hits."""
    def pos(i: int) -> str:
        return f"({_hash60_sql('shingle', f'{salt}{i}')} % {m_bits})"

    probe_arms = "\n                  UNION ALL ".join(
        f"SELECT id, shingle, {i} AS i, {pos(i)} AS p FROM shc"
        for i in range(k)
    )
    return f"""
            WITH t AS (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents),
            sh AS (
                SELECT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM t
                )
            ),
            shb AS (SELECT DISTINCT shingle FROM sh WHERE id < {bench_max}),
            shc AS (SELECT id, shingle FROM sh WHERE id >= {bench_max}),
            bl AS (SELECT p // 32 AS word,
                          bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
                   FROM (SELECT unnest([{', '.join(pos(i) for i in range(k))}]) AS p
                         FROM shb)
                   GROUP BY 1),
            pr AS ({probe_arms}),
            hit AS (SELECT pr.id, pr.shingle
                    FROM pr JOIN bl ON bl.word = pr.p // 32
                     AND (bl.bits & (1::BIGINT << CAST(pr.p % 32 AS INT))) != 0
                    GROUP BY pr.id, pr.shingle
                    HAVING COUNT(DISTINCT pr.i) = {k})
            SELECT id AS doc_id, COUNT(*) AS hits, MIN(shingle) AS sample_shingle
            FROM hit GROUP BY id HAVING COUNT(*) >= {threshold}"""


def _hash60_sql(col_sql: str, salt: str) -> str:
    """The cross-engine 60-bit hash (CLAUDE.md contract) of salt||value —
    identical to curation.hash60 term for term."""
    return (f"('0x' || substr(md5('{salt}' || CAST({col_sql} AS VARCHAR)),"
            f" 1, 15))::BIGINT")


def _pref_pairs_sql(score_sql: str) -> str:
    """Shared preference_pairs mirror (transcripts.preference_pairs):
    candidate = assistant turn whose predecessor is a user turn, prompt =
    that predecessor's text; chosen/rejected via two exactly-reversed
    row_number orders over the prompt partition, argmax by MAX(CASE WHEN
    rn=1). Always ends defining ``pairs`` — callers append their own
    SELECT (the preference_pairs gate reads it verbatim; length_bias
    aggregates it)."""
    return f"""cand AS (
                SELECT conv_id, turn_idx, text, {score_sql} AS sc, role,
                       lag(role) OVER w AS prev_role,
                       lag(text) OVER w AS prompt
                FROM transcripts
                WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
            ),
            r AS (
                SELECT *,
                       row_number() OVER (PARTITION BY prompt
                           ORDER BY sc DESC, conv_id ASC, turn_idx ASC) AS rd,
                       row_number() OVER (PARTITION BY prompt
                           ORDER BY sc ASC, conv_id DESC, turn_idx DESC) AS ra
                FROM cand
                WHERE role = 'assistant' AND prev_role = 'user'
                  AND prompt IS NOT NULL
            ),
            pairs AS (
            SELECT prompt,
                   MAX(CASE WHEN rd = 1 THEN COALESCE(text, '') END) AS chosen,
                   MAX(CASE WHEN rd = 1 THEN sc END) AS chosen_score,
                   MAX(CASE WHEN rd = 1 THEN conv_id END) AS chosen_conv_id,
                   MAX(CASE WHEN rd = 1 THEN turn_idx END) AS chosen_turn_idx,
                   MAX(CASE WHEN ra = 1 THEN COALESCE(text, '') END) AS rejected,
                   MAX(CASE WHEN ra = 1 THEN sc END) AS rejected_score,
                   MAX(CASE WHEN ra = 1 THEN conv_id END) AS rejected_conv_id,
                   MAX(CASE WHEN ra = 1 THEN turn_idx END) AS rejected_turn_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates
            FROM r GROUP BY prompt
            HAVING MAX(CASE WHEN rd = 1 THEN sc END)
                 > MAX(CASE WHEN ra = 1 THEN sc END))"""


def _sft_body_sql(src: str, k: int) -> str:
    """Shared sft_examples mirror body over source CTE ``src`` (the
    _pack_body_sql convention — sft_examples and sft_corpus must stay in
    lockstep): windowed list() in frame order, k-preceding context."""
    return f"""
            SELECT conv_id, turn_idx,
                   array_to_string(ctx, chr(10)) AS prompt,
                   COALESCE(text, '') AS completion,
                   CAST(len(ctx) AS INT) AS n_context_turns
            FROM (SELECT conv_id, turn_idx, role, text,
                         list(role || ': ' || COALESCE(text, '')) OVER (
                            PARTITION BY conv_id ORDER BY ts, turn_idx
                            ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING) AS ctx
                  FROM {src})
            WHERE role = 'assistant' AND len(ctx) > 0"""


def _conv_fps_sql() -> str:
    """Shared conversation-fingerprint mirror (transcripts.
    conv_fingerprint): defines ``fps`` = (conv_id, fp); conv_dedup and
    sft_corpus both read it."""
    return """fps AS (
                SELECT conv_id,
                       md5(string_agg(line, chr(31)
                           ORDER BY ts, turn_idx, line)) AS fp
                FROM (SELECT conv_id, ts, turn_idx,
                             role || ': ' ||
                             trim(regexp_replace(lower(coalesce(text,'')),
                                                 '\\s+', ' ', 'g')) AS line
                      FROM transcripts)
                GROUP BY conv_id
            )"""


def _sft_corpus_sql(k: int, canned_min: int, min_tokens: int,
                    weights: dict[str, float], salt: str,
                    split_on: str = "conversation") -> str:
    """Oracle for the sft_curation preset end-to-end: conv-dedup
    survivors → sft explode → canned-completion drop (canned set from
    the SURVIVING conversations, matching the preset) → completion
    token floor → hash_split on example_id. Chains the proven stage
    mirrors with each stage reading the previous stage's survivors (the
    _curated_sql convention)."""
    from towhee_spark.functions.curation import _thresholds  # noqa: PLC0415

    th = _thresholds(weights)
    cases = " ".join(
        f"WHEN h < {thr} THEN '{name}'" for name, thr in th[:-1])
    norm_comp = ("trim(regexp_replace(lower(coalesce(completion,'')),"
                 " '\\s+', ' ', 'g'))")
    tok = ("CASE WHEN trim(coalesce(completion,'')) = '' THEN 0 ELSE "
           "len(string_split_regex(trim(completion), '\\s+')) END")
    ex_id = "conv_id || ':' || CAST(turn_idx AS VARCHAR)"
    split_col = "conv_id" if split_on == "conversation" else ex_id
    return f"""{_CTE},
            {_conv_fps_sql()},
            surv AS (SELECT MIN(conv_id) AS conv_id FROM fps GROUP BY fp),
            t2 AS (SELECT t.* FROM transcripts t JOIN surv USING (conv_id)),
            sft AS ({_sft_body_sql("t2", k)}),
            canned AS (
                SELECT trim(regexp_replace(lower(coalesce(text,'')),
                                           '\\s+', ' ', 'g')) AS response
                FROM t2 WHERE role = 'assistant'
                GROUP BY 1 HAVING COUNT(DISTINCT conv_id) >= {canned_min}
            ),
            ex AS (
                SELECT * FROM sft
                WHERE NOT EXISTS (SELECT 1 FROM canned c
                                  WHERE c.response = {norm_comp})
                  AND {tok} >= {min_tokens}
            )
            SELECT conv_id, turn_idx, prompt, completion, n_context_turns,
                   example_id, CASE {cases} ELSE '{th[-1][0]}' END AS split
            FROM (SELECT *, {ex_id} AS example_id,
                         {_hash60_sql(split_col, salt)} AS h
                  FROM ex)"""


def _refusals_sql() -> str:
    """Oracle for transcripts.refusal_stats with the gate's planted
    marker (every 7th turn): the SAME raw-phrase alternation from
    text.REFUSAL_MARKERS (shared-constant pattern; apostrophes doubled
    for the SQL literal), counted per assistant turn, aggregated per
    conversation."""
    from towhee_spark.functions.text import REFUSAL_MARKERS  # noqa: PLC0415

    pat = "|".join(REFUSAL_MARKERS).replace("'", "''")
    hit = (f"CASE WHEN len(regexp_extract_all(lower(coalesce(text,'')), "
           f"'{pat}')) > 0 THEN 1 ELSE 0 END")
    return f"""{_CTE},
            planted AS (
                SELECT conv_id, role,
                       CASE WHEN turn_idx % 7 = 0
                            THEN text || ' I cannot help with that'
                            ELSE text END AS text
                FROM transcripts)
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_responses,
                   CAST(SUM({hit}) AS BIGINT) AS n_refusals,
                   ROUND(CAST(SUM({hit}) AS DOUBLE) / COUNT(*), 6)
                       AS refusal_ratio
            FROM planted WHERE role = 'assistant'
            GROUP BY conv_id"""


def _hash_split_sql(weights: dict[str, float], salt: str = "split") -> str:
    """Oracle for curation.hash_split: the SAME cumulative integer
    thresholds (shared _thresholds arithmetic, inlined as literals — the
    LSH-plane-constant pattern) compared against the 60-bit hash."""
    from towhee_spark.functions.curation import _thresholds  # noqa: PLC0415

    th = _thresholds(weights)
    cases = " ".join(
        f"WHEN h < {thr} THEN '{name}'" for name, thr in th[:-1])
    return f"""
            SELECT doc_id, lang,
                   CASE {cases} ELSE '{th[-1][0]}' END AS split
            FROM (SELECT doc_id, lang,
                         {_hash60_sql("doc_id", salt)} AS h
                  FROM documents)"""


def _sample_by_hash_sql(rates: dict[str, float], strata_col: str = "lang",
                        default_rate: float = 0.1,
                        salt: str = "sample") -> str:
    """Oracle for curation.sample_by_hash: per-stratum integer thresholds
    (same round(rate * 2^60) literals) against the 60-bit hash."""
    from towhee_spark.functions.curation import HASH_SPACE  # noqa: PLC0415

    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {int(round(r * HASH_SPACE))}"
        for s, r in rates.items())
    return f"""
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       {_hash60_sql("doc_id", salt)} AS h,
                       CASE {cases}
                            ELSE {int(round(default_rate * HASH_SPACE))} END AS thr
                FROM documents)
            WHERE h < thr"""


def _domain_mixture_sql(rates: dict[str, float], strata_col: str = "lang",
                        default_rate: float = 0.5,
                        salt: str = "mix") -> str:
    """Oracle for curation.mixture_sample: the SAME per-stratum
    (n_full, frac_thr, n_max) integer literals (shared _mixture_plan
    arithmetic — the LSH-plane-constant pattern), a cross join against
    the static epoch list 0..max(n_max)-1 gated by n_max, and the
    per-(id, epoch) 60-bit hash against the fractional threshold."""
    from towhee_spark.functions.curation import _mixture_plan  # noqa: PLC0415

    plan = _mixture_plan(rates)
    dflt = _mixture_plan({"__d": default_rate})["__d"]
    def case(i: int) -> str:
        whens = " ".join(
            f"WHEN {strata_col} = '{s}' THEN {tup[i]}"
            for s, tup in plan.items())
        return f"CASE {whens} ELSE {dflt[i]} END"
    n_top = max([t[2] for t in plan.values()] + [dflt[2]])
    h = _hash60_sql(
        "CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)", salt)
    return f"""
            SELECT d.doc_id, d.{strata_col} AS {strata_col},
                   CAST(e.epoch AS INT) AS epoch
            FROM (SELECT doc_id, {strata_col},
                         {case(0)} AS n_full,
                         {case(1)} AS fthr,
                         {case(2)} AS n_max
                  FROM documents) d
            JOIN (SELECT UNNEST(range({n_top})) AS epoch) e
              ON e.epoch < d.n_max
            WHERE e.epoch < d.n_full OR {h} < d.fthr"""


def _pack_body_sql(src: str, tok_cnt: str, seq_len: int,
                   salt: str = "pack") -> str:
    """The pack_sequences mirror body (t/c/e chain + final SELECT) over
    an arbitrary source relation — shared by the whitespace-token and
    model-token pack oracles so the layout rules live in ONE place."""
    return f"""t AS (
                SELECT doc_id, CAST({tok_cnt} AS BIGINT) AS cnt,
                       ('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT AS h
                FROM {src}
            ),
            c AS (
                SELECT doc_id, cnt,
                       CAST(COALESCE(SUM(cnt) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS st
                FROM t WHERE cnt > 0
            ),
            e AS (
                SELECT doc_id, cnt, st,
                       UNNEST(range(st // {seq_len},
                                    (st + cnt - 1) // {seq_len} + 1)) AS pack_id
                FROM c
            )
            SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(GREATEST(pack_id * {seq_len} - st, 0) AS BIGINT) AS tok_begin,
                   CAST(LEAST((pack_id + 1) * {seq_len} - st, cnt) AS BIGINT) AS tok_end,
                   CAST(GREATEST(st - pack_id * {seq_len}, 0) AS BIGINT) AS pack_off
            FROM e"""


def _pack_sequences_sql(tok_cnt: str, seq_len: int, salt: str = "pack") -> str:
    """Oracle for packing.pack_sequences: the spec is a plain exclusive
    cumsum over the (hash60, doc_id) stream order, so DuckDB states it
    directly with one window — the distributed two-level prefix sum under
    test must be indistinguishable from it. Integer `//` division mirrors
    Spark's DIV; the 60-bit md5 order hash is the shared cross-engine
    contract (curation.hash60)."""
    return "\n            WITH " + _pack_body_sql(
        "documents", tok_cnt, seq_len, salt)


def _pack_wp_sql(norm: str, seq_len: int, n_words: int = 24,
                 n_suffix: int = 8, max_word_chars: int = 8) -> str:
    """Oracle for q_pack_wp: the identical pack body fed by the wp piece
    counts (len(pieces) from the _wp_cte flat table). Docs with zero
    words are absent from flat and zero-count docs are filtered on both
    engines, so the streams agree doc for doc."""
    return ("\n            WITH RECURSIVE "
            + _wp_cte(norm, n_words, n_suffix, max_word_chars) + ",\n            "
            + _pack_body_sql("flat", "len(pieces)", seq_len))


def _wp_ids_cte(norm: str, n_words: int = 24, n_suffix: int = 8,
                max_word_chars: int = 8) -> str:
    """Shared wp→ids mirror: the _wp_cte piece stream, ids assigned by
    (occurrence count DESC, piece ASC) row_number − 1 — the
    frequency-sorted vocab layout (tokenize.piece_id_table). Ends at
    ``ex(doc_id, pos, piece)`` + ``idt(piece, piece_id)``; pure integer
    ranks over exact counts, no floats anywhere. The enclosing query
    MUST open with WITH RECURSIVE."""
    return f"""{_wp_cte(norm, n_words, n_suffix, max_word_chars)},
            occ AS (SELECT unnest(pieces) AS piece FROM flat),
            cnt AS (SELECT piece, count(*) AS c FROM occ GROUP BY piece),
            idt AS (SELECT piece,
                           CAST(row_number() OVER (ORDER BY c DESC, piece ASC)
                                - 1 AS INT) AS piece_id
                    FROM cnt),
            ex AS (SELECT doc_id, CAST(i AS INT) AS pos, pieces[i] AS piece
                   FROM flat, UNNEST(range(1, len(pieces) + 1)) AS u(i))"""


def _encode_ids_sql(norm: str, **kw) -> str:
    """Oracle for q_encode_ids: the shared wp→ids stream re-emitted as
    (doc_id, pos, piece_id)."""
    return f"""
            WITH RECURSIVE {_wp_ids_cte(norm, **kw)}
            SELECT doc_id, pos, piece_id FROM ex JOIN idt USING (piece)"""


def _packed_shards_sql(norm: str, seq_len: int, salt: str = "pack",
                       **kw) -> str:
    """Oracle for q_packed_shards — an INDEPENDENT formulation: each
    token's global stream position gpos = doc start + (pos − 1) under
    the (hash60, doc_id) order, pack = gpos // seq_len, ids listed by
    gpos. The engine's layout-slice-gather must be indistinguishable
    from this direct statement of concat-and-chunk."""
    return f"""
            WITH RECURSIVE {_wp_ids_cte(norm, **kw)},
            idsd AS (
                SELECT e.doc_id, list(piece_id ORDER BY pos) AS ids
                FROM ex e JOIN idt USING (piece)
                GROUP BY e.doc_id
            ),
            t AS (
                SELECT doc_id, CAST(len(ids) AS BIGINT) AS cnt,
                       ('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)),
                                       1, 15))::BIGINT AS h
                FROM idsd
            ),
            c AS (
                SELECT doc_id, cnt,
                       CAST(COALESCE(SUM(cnt) OVER (
                           ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS st
                FROM t WHERE cnt > 0
            ),
            ts AS (
                SELECT c.st + u.i - 1 AS gpos, d.ids[u.i] AS id
                FROM c JOIN idsd d USING (doc_id),
                     UNNEST(range(1, c.cnt + 1)) AS u(i)
            )
            SELECT CAST(gpos // {seq_len} AS BIGINT) AS pack_id,
                   CAST(count(*) AS INT) AS n_fill,
                   array_to_string(list(id ORDER BY gpos), ',') AS ids_csv
            FROM ts GROUP BY 1"""


def _packed_spans_sql(norm: str, seq_len: int, n_words: int = 24,
                      n_suffix: int = 8, max_word_chars: int = 8) -> str:
    """Oracle for q_packed_spans: the pack LAYOUT (_pack_body_sql over
    the wp piece counts) re-keyed to per-pack document spans — span off
    = pack_off, span length = tok_end − tok_begin. The engine derives
    the same rows from its sorted-struct gather aggregate; the two
    formulations must agree row for row."""
    return f"""
            WITH RECURSIVE {_wp_cte(norm, n_words, n_suffix, max_word_chars)}
            SELECT pack_id, doc_id,
                   CAST(pack_off AS INT) AS off,
                   CAST(tok_end - tok_begin AS INT) AS span_len
            FROM (WITH {_pack_body_sql("flat", "len(pieces)", seq_len)}) lay"""


def _chunk_ids_sql(norm: str, size: int, overlap: int, **kw) -> str:
    """Oracle for q_chunk_ids: per-doc ordered id lists from the shared
    wp→ids stream, then chunk_text's exact window arithmetic (starts
    stop at len − size + step − 1; empty docs emit no rows) over MODEL
    tokens, chunks rendered as CSV strings for the cross-engine hash."""
    step = size - overlap
    return f"""
            WITH RECURSIVE {_wp_ids_cte(norm, **kw)},
            idsd AS (
                SELECT e.doc_id, list(piece_id ORDER BY pos) AS ids
                FROM ex e JOIN idt USING (piece)
                GROUP BY e.doc_id
            )
            SELECT doc_id, CAST(s AS INT) AS start,
                   array_to_string(ids[s + 1 : s + {size}], ',') AS ids_csv
            FROM idsd,
                 UNNEST(range(0, greatest(len(ids) - {size - step + 1}, 0) + 1,
                              {step})) AS u(s)
            WHERE len(ids) > 0"""


def _neardup_static_sql(norm: str, num_hashes: int = 32, bands: int = 8,
                        threshold: float = 0.5, n: int = 3) -> str:
    """Oracle for the stream_neardup_static batch face, stage by stage:
    per-doc MinHash signatures from the seeded affine family (constants
    inlined — the LSH-plane pattern), '|'-joined band slices hashed through
    the 60-bit md5 contract, stream×ref bucket join, and the signature
    agreement rate. Every hash is exact BIGINT arithmetic, so signatures
    match the Spark expr path bit for bit."""
    from towhee_spark.kernels import (  # noqa: PLC0415
        MINHASH_H30, MINHASH_P, minhash_affine_params,
    )

    rows = num_hashes // bands
    seeds = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_affine_params(num_hashes)))
    return f"""
            WITH sh AS (
                SELECT DISTINCT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= {n} THEN
                               unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                                       for i in range(1, len(toks) - {n - 2})])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
                )
            ),
            seeds(seed, a, b) AS (VALUES {seeds}),
            hv AS (SELECT id,
                          ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_H30} AS h30
                   FROM sh),
            sig AS (SELECT id, seed, MIN((a * h30 + b) % {MINHASH_P}) AS mh
                    FROM hv CROSS JOIN seeds GROUP BY id, seed),
            bb AS (SELECT id, seed // {rows} AS band,
                          ('0x' || substr(md5(array_to_string(
                               list(mh ORDER BY seed), '|')), 1, 15))::BIGINT AS bh
                   FROM sig GROUP BY id, seed // {rows}),
            cand AS (SELECT DISTINCT a.id AS doc_id, b.id AS ref_id
                     FROM bb a JOIN bb b ON a.band = b.band AND a.bh = b.bh
                     WHERE a.id % 7 = 3 AND b.id % 7 <> 3),
            agree AS (SELECT c.doc_id, c.ref_id,
                             SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS eq
                      FROM cand c
                      JOIN sig x ON x.id = c.doc_id
                      JOIN sig y ON y.id = c.ref_id AND y.seed = x.seed
                      GROUP BY c.doc_id, c.ref_id)
            SELECT doc_id, ref_id,
                   ROUND(CAST(eq AS DOUBLE) / {num_hashes}, 6) AS est_jaccard
            FROM agree
            WHERE ROUND(CAST(eq AS DOUBLE) / {num_hashes}, 6) >= {threshold}"""


def _token_budget_sql(budgets: dict[str, float], tok_cnt: str,
                      strata_col: str = "lang", salt: str = "budget") -> str:
    """Oracle for curation.sample_to_token_budget: identical derivation —
    BIGINT per-stratum token totals, min(1, budget/total) in one double
    division, power-of-two scale + floor to the integer threshold, then
    the 60-bit hash filter. Every step is IEEE-deterministic, so the
    data-derived thresholds match bitwise across engines."""
    from towhee_spark.functions.curation import HASH_SPACE  # noqa: PLC0415

    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN CAST({float(b)} AS DOUBLE)"
        for s, b in budgets.items())
    return f"""
            WITH tot AS (
                SELECT {strata_col}, CAST(SUM({tok_cnt}) AS BIGINT) AS t
                FROM documents GROUP BY {strata_col}
            ),
            thr AS (
                SELECT {strata_col},
                       CAST(floor(
                           CASE WHEN b IS NULL THEN NULL
                                WHEN t = 0 THEN 1.0
                                ELSE least(b / CAST(t AS DOUBLE), 1.0) END
                           * CAST({HASH_SPACE} AS DOUBLE)) AS BIGINT) AS th
                FROM (SELECT {strata_col}, t,
                             CASE {cases} ELSE NULL END AS b FROM tot)
            )
            SELECT d.doc_id, d.{strata_col} AS {strata_col}
            FROM documents d JOIN thr USING ({strata_col})
            WHERE {_hash60_sql("doc_id", salt)} < th"""


def _wp_cte(norm: str, n_words: int, n_suffix: int,
            max_word_chars: int) -> str:
    """CTE chain mirroring functions.tokenize end-to-end — vocab training
    (top-N words / top-N 2-char tails / chars of the top words, counts
    over word occurrences, ties string-ascending), the per-(word, pos)
    longest-match table, the greedy walk (recursive CTE — advance by the
    longest matching piece, no match ⇒ the whole word is [UNK]) and the
    per-doc reassembly. Ends at ``flat(doc_id, pieces)``; the enclosing
    query MUST open with WITH RECURSIVE."""
    return f"""
            d AS (
                SELECT doc_id,
                       list_filter(string_split({norm}, ' '), t -> t <> '') AS ws
                FROM documents
            ),
            w AS (
                SELECT doc_id, CAST(i AS INT) AS widx, ws[i] AS word
                FROM d, UNNEST(range(1, len(ws) + 1)) AS u(i)
            ),
            topw AS (
                SELECT word FROM (
                    SELECT word, count(*) AS c FROM w
                    WHERE word NOT LIKE '##%'
                    GROUP BY word ORDER BY c DESC, word ASC
                    LIMIT {n_words})
            ),
            sufw AS (
                SELECT t FROM (
                    SELECT substr(word, length(word) - 1, 2) AS t,
                           count(*) AS c
                    FROM w WHERE length(word) >= 3
                    GROUP BY t ORDER BY c DESC, t ASC LIMIT {n_suffix})
            ),
            chars AS (
                SELECT DISTINCT substr(word, ci, 1) AS ch
                FROM topw, UNNEST(range(1, length(word) + 1)) AS uc(ci)
            ),
            vocab AS (
                SELECT word AS core, true AS is_prefix FROM topw
                UNION SELECT t, false FROM sufw
                UNION SELECT ch, true FROM chars
                UNION SELECT ch, false FROM chars
            ),
            mp AS (SELECT max(length(core)) AS m FROM vocab),
            dw AS (SELECT DISTINCT word FROM w
                   WHERE length(word) <= {max_word_chars}),
            cand AS (
                SELECT word, CAST(p AS INT) AS pos, CAST(l AS INT) AS l,
                       substr(word, p, l) AS core, (p = 1) AS is_prefix
                FROM dw, mp,
                     UNNEST(range(1, length(word) + 1)) AS up(p),
                     UNNEST(range(1, least(mp.m, length(word) - p + 1) + 1))
                         AS ul(l)
            ),
            lmax AS (
                SELECT word, pos, max(l) AS L
                FROM cand JOIN vocab USING (core, is_prefix)
                GROUP BY word, pos
            ),
            walk AS (
                SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS out,
                       false AS failed
                FROM dw
                UNION ALL
                SELECT t.word,
                       CASE WHEN l.L IS NULL THEN length(t.word) + 1
                            ELSE t.pos + l.L END,
                       CASE WHEN l.L IS NULL THEN ['[UNK]']
                            ELSE list_append(t.out,
                                 CASE WHEN t.pos = 1 THEN '' ELSE '##' END
                                 || substr(t.word, t.pos, l.L)) END,
                       l.L IS NULL
                FROM walk t LEFT JOIN lmax l
                  ON l.word = t.word AND l.pos = t.pos
                WHERE t.pos <= length(t.word) AND NOT t.failed
            ),
            done AS (SELECT word, out FROM walk
                     WHERE failed OR pos > length(word)),
            flat AS (
                SELECT w.doc_id,
                       flatten(list(coalesce(dn.out, ['[UNK]'])
                                    ORDER BY w.widx)) AS pieces
                FROM w LEFT JOIN done dn ON dn.word = w.word
                GROUP BY w.doc_id
            )"""


def _tokenize_sql(norm: str, n_words: int = 24, n_suffix: int = 8,
                  max_word_chars: int = 8) -> str:
    """Oracle for q_tokenize: the _wp_cte pipeline exploded to
    (doc_id, pos, piece) rows (empty docs emit no rows — matches
    posexplode on the empty pieces array)."""
    return f"""
            WITH RECURSIVE {_wp_cte(norm, n_words, n_suffix, max_word_chars)}
            SELECT doc_id, CAST(i AS INT) AS pos, pieces[i] AS piece
            FROM flat, UNNEST(range(1, len(pieces) + 1)) AS u(i)"""


def _token_budget_wp_sql(norm: str, budgets: dict[str, float],
                         n_words: int = 24, n_suffix: int = 8,
                         max_word_chars: int = 8,
                         strata_col: str = "lang",
                         salt: str = "budget") -> str:
    """Oracle for q_token_budget_wp: _token_budget_sql's threshold
    derivation with the whitespace token count swapped for the WordPiece
    piece count (len(flat.pieces); empty docs count 0 via the left
    join — matching the engine's n_tokens = 0)."""
    from towhee_spark.functions.curation import HASH_SPACE  # noqa: PLC0415

    cases = " ".join(
        f"WHEN {strata_col} = '{s}' THEN CAST({float(b)} AS DOUBLE)"
        for s, b in budgets.items())
    return f"""
            WITH RECURSIVE {_wp_cte(norm, n_words, n_suffix, max_word_chars)},
            cnt AS (
                SELECT dd.doc_id, dd.{strata_col},
                       coalesce(len(f.pieces), 0) AS n
                FROM documents dd LEFT JOIN flat f USING (doc_id)
            ),
            tot AS (
                SELECT {strata_col}, CAST(SUM(n) AS BIGINT) AS t
                FROM cnt GROUP BY {strata_col}
            ),
            thr AS (
                SELECT {strata_col},
                       CAST(floor(
                           CASE WHEN b IS NULL THEN NULL
                                WHEN t = 0 THEN 1.0
                                ELSE least(b / CAST(t AS DOUBLE), 1.0) END
                           * CAST({HASH_SPACE} AS DOUBLE)) AS BIGINT) AS th
                FROM (SELECT {strata_col}, t,
                             CASE {cases} ELSE NULL END AS b FROM tot)
            )
            SELECT dd.doc_id, dd.{strata_col} AS {strata_col}
            FROM documents dd JOIN thr USING ({strata_col})
            WHERE {_hash60_sql("doc_id", salt)} < th"""


def _bpe_sql(norm: str, n_merges: int = 24) -> str:
    """Oracle for q_bpe_tokenize: the BPE train loop UNROLLED — one
    (pairs, best, words) CTE triple per merge round, generated by this
    Python loop exactly as the engine's driver loop runs Spark jobs.
    Symbols ride in the packed form (every symbol wrapped in chr(31),
    adjacency = the doubled separator) so each merge is ONE
    non-overlapping left-to-right replace — bit-identical to
    functions.tokenize._bpe_pat/F.replace. A round with no repeating
    pair leaves the word table unchanged (LEFT JOIN on the empty best
    row), mirroring the engine's early loop exit."""
    sep = "chr(31)"
    rounds = []
    for r in range(1, n_merges + 1):
        rounds.append(f"""
            p{r} AS MATERIALIZED (
                SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
                    SELECT cnt, syms[i] AS a, syms[i + 1] AS b
                    FROM (SELECT cnt,
                                 string_split(substr(s, 2, length(s) - 2),
                                              {sep} || {sep}) AS syms
                          FROM w{r - 1}) t,
                         UNNEST(range(1, len(syms))) AS u(i)
                ) GROUP BY a, b HAVING SUM(cnt) >= 2
            ),
            b{r} AS MATERIALIZED (SELECT a, b FROM p{r}
                     ORDER BY c DESC, a ASC, b ASC LIMIT 1),
            w{r} AS MATERIALIZED (
                SELECT w.word, w.cnt,
                       CASE WHEN b.a IS NULL THEN w.s
                            ELSE replace(w.s,
                                 {sep} || b.a || {sep} || {sep} || b.b || {sep},
                                 {sep} || b.a || b.b || {sep}) END AS s
                FROM w{r - 1} w LEFT JOIN b{r} b ON true
            )""")
    return f"""
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split({norm}, ' '), t -> t <> '') AS ws
                FROM documents
            ),
            wd AS MATERIALIZED (
                SELECT doc_id, CAST(i AS INT) AS widx, ws[i] AS word
                FROM d, UNNEST(range(1, len(ws) + 1)) AS u(i)
            ),
            w0 AS MATERIALIZED (
                SELECT word, count(*) AS cnt,
                       CASE WHEN contains(word, {sep})
                            THEN {sep} || word || {sep}
                            ELSE regexp_replace(word, '(.)',
                                 {sep} || '\\1' || {sep}, 'g') END AS s
                FROM wd GROUP BY word
            ),{",".join(rounds)},
            pieces AS (
                SELECT word,
                       string_split(substr(s, 2, length(s) - 2),
                                    {sep} || {sep}) AS ps
                FROM w{n_merges}
            ),
            flat AS (
                SELECT wd.doc_id,
                       flatten(list(p.ps ORDER BY wd.widx)) AS pieces
                FROM wd JOIN pieces p ON p.word = wd.word
                GROUP BY wd.doc_id
            )
            SELECT doc_id, CAST(i AS INT) AS pos, pieces[i] AS piece
            FROM flat, UNNEST(range(1, len(pieces) + 1)) AS u(i)"""


def _unigram_ppl_wp_sql(norm: str, n_words: int = 24, n_suffix: int = 8,
                        max_word_chars: int = 8) -> str:
    """Oracle for q_unigram_ppl_wp: the _wp_cte piece stream feeding the
    EXACT _unigram_ppl_sql math (same ln operands, same round-before-exp);
    docs with no pieces keep n_tokens = 0 / NULL scores via the left
    join — matching the engine's coalesce over the tokenize frame."""
    return f"""
            WITH RECURSIVE {_wp_cte(norm, n_words, n_suffix, max_word_chars)},
            tok AS (SELECT doc_id, unnest(pieces) AS token FROM flat),
            dt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
                   FROM tok WHERE token <> '' GROUP BY doc_id, token),
            fr AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cf FROM dt GROUP BY token),
            tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS t_total,
                           CAST(COUNT(*) AS BIGINT) AS v_total FROM fr),
            sc AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                       ROUND(-SUM(c * ln((cf + 1.0) / (t_total + v_total)))
                             / SUM(c), 6) AS avg_nll
                FROM dt JOIN fr USING (token) CROSS JOIN tot
                GROUP BY doc_id
            )
            SELECT dd.doc_id, COALESCE(n_tokens, 0) AS n_tokens, avg_nll,
                   ROUND(exp(avg_nll), 6) AS ppl
            FROM documents dd LEFT JOIN sc USING (doc_id)"""


def _ann_recall_sql() -> str:
    """Oracle for q_ann_recall: the proven lsh_topk (probes=1) and exact
    top-k oracles composed verbatim as derived tables, then the
    hits/exact join + per-query recall — same arithmetic as
    similarity.ann_recall (BIGINT counts, one double division, ROUND 6)."""
    return f"""
            WITH ann AS (SELECT * FROM (
                {_lsh_topk_sql(planes=8, probes=1, dim=64, seed=7)}) t),
            ex AS (SELECT * FROM ({_topk_sql()}) t),
            hits AS (
                SELECT e.query_id, count(*) AS n_hits
                FROM ex e JOIN ann a
                  ON a.query_id = e.query_id AND a.match_id = e.match_id
                GROUP BY e.query_id
            ),
            base AS (SELECT query_id, count(*) AS n_exact
                     FROM ex GROUP BY query_id)
            SELECT b.query_id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(b.n_exact AS BIGINT) AS n_exact,
                   ROUND(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / b.n_exact,
                         6) AS recall
            FROM base b LEFT JOIN hits h USING (query_id)"""


def _gopher_sql(norm: str, min_words: int = 50, max_words: int = 100_000,
                min_mwl: float = 3.0, max_mwl: float = 10.0,
                min_awr: float = 0.8, min_stops: int = 2,
                max_symr: float = 0.1) -> str:
    """Oracle for text.gopher_rules: same normalized tokens, same rounded
    diagnostics, same thresholds (DuckDB lateral alias reuse keeps the
    boolean composition readable)."""
    from towhee_spark.functions.text import STOPWORDS_EN  # noqa: PLC0415

    stoppat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    return f"""
            WITH s AS (
                SELECT doc_id, nrm, string_split(nrm, ' ') AS toks,
                       CASE WHEN nrm = '' THEN 0
                            ELSE len(string_split(nrm, ' ')) END AS wc,
                       CAST(length(replace(nrm, ' ', '')) AS DOUBLE) AS chars
                FROM (SELECT doc_id, {norm} AS nrm FROM documents)
            ),
            m AS (
                SELECT doc_id, CAST(wc AS INT) AS word_count,
                       ROUND(CASE WHEN wc > 0 THEN chars / wc ELSE 0.0 END, 6)
                           AS mean_word_len,
                       ROUND(CASE WHEN wc > 0 THEN
                           CAST(len(list_filter(toks,
                               t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / wc
                           ELSE 0.0 END, 6) AS alpha_word_ratio,
                       CAST(len(regexp_extract_all(nrm, '{stoppat}')) AS INT)
                           AS stop_hits,
                       ROUND(CASE WHEN wc > 0 THEN
                           CAST(len(regexp_extract_all(nrm, '#|\\.\\.\\.'))
                                AS DOUBLE) / wc
                           ELSE 0.0 END, 6) AS symbol_ratio
                FROM s
            )
            SELECT doc_id, word_count, mean_word_len, alpha_word_ratio,
                   stop_hits, symbol_ratio,
                   word_count >= {min_words} AND word_count <= {max_words}
                       AS words_ok,
                   mean_word_len >= {min_mwl} AND mean_word_len <= {max_mwl}
                       AS mean_len_ok,
                   alpha_word_ratio >= {min_awr} AS alpha_ok,
                   stop_hits >= {min_stops} AS stops_ok,
                   symbol_ratio <= {max_symr} AS symbols_ok,
                   words_ok AND mean_len_ok AND alpha_ok AND stops_ok
                       AND symbols_ok AS keep
            FROM m"""


def _simhash_sql(norm: str, threshold: float = 0.5, blocks: int = 6,
                 bits: int = 60, max_hamming: int = 16) -> str:
    """Oracle that re-runs the SimHash near-dup algorithm in SQL: md5-based
    60-bit per-bit majority-vote sketch, segment blocking, hamming prune,
    exact shingle-Jaccard verify — mirrors dedup.simhash_jaccard_pairs(
    hash="md5", bits=60) term for term."""
    seg_bits = bits // blocks
    mask = (1 << seg_bits) - 1
    vote_cols = ",\n                       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sketch_sum = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    seg_vals = ", ".join(f"(s >> {i * seg_bits}) & {mask}" for i in range(blocks))
    seg_ids = ", ".join(str(i) for i in range(blocks))
    return f"""
            WITH sh AS (
                SELECT DISTINCT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
                )
            ),
            hv AS (SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
            votes AS (SELECT id, {vote_cols}
                      FROM hv GROUP BY id),
            sk AS (SELECT id, CAST({sketch_sum} AS BIGINT) AS s FROM votes),
            segs AS (SELECT id, s, unnest([{seg_vals}]) AS seg_val,
                            unnest([{seg_ids}]) AS seg FROM sk),
            cand AS (
                SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.s AS sa, y.s AS sb
                FROM segs x JOIN segs y
                  ON x.seg = y.seg AND x.seg_val = y.seg_val AND x.id < y.id
            ),
            ham AS (SELECT id_a, id_b FROM cand
                    WHERE bit_count(xor(sa, sb)) <= {max_hamming}),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
            inter AS (
                SELECT hm.id_a, hm.id_b, COUNT(*) AS inter
                FROM ham hm
                JOIN sh a ON a.id = hm.id_a
                JOIN sh b ON b.id = hm.id_b AND b.shingle = a.shingle
                GROUP BY hm.id_a, hm.id_b
            )
            SELECT id_a, id_b,
                   ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
            WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}"""


def _simhash_permuted_sql(norm: str, bits: int = 60, max_hamming: int = 4) -> str:
    """Oracle for dedup.simhash_pairs_permuted(hash="md5", bits=60, ngram=3):
    the same md5 distinct-shingle sketch mirror as _simhash_sql, then the
    EXACT all-pairs hamming ≤ k set — no blocking in SQL, because the
    permuted-table construction is recall-1 at the gate config, so any
    missing candidate is a blocking bug, not an approximation."""
    vote_cols = ",\n                       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sketch_sum = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
            WITH sh AS (
                SELECT DISTINCT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
                )
            ),
            hv AS (SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
            votes AS (SELECT id, {vote_cols}
                      FROM hv GROUP BY id),
            sk AS (SELECT id, CAST({sketch_sum} AS BIGINT) AS s FROM votes)
            SELECT x.id AS id_a, y.id AS id_b,
                   CAST(bit_count(xor(x.s, y.s)) AS INTEGER) AS hamming
            FROM sk x JOIN sk y ON x.id < y.id
            WHERE bit_count(xor(x.s, y.s)) <= {max_hamming}"""


def _simhash_weighted_sql(norm: str, bits: int = 60) -> str:
    """Oracle mirroring dedup.simhash_sketch(ngram=3, hash="md5", bits=60,
    weight="count"): NON-distinct 3-gram shingles (bag), per-(doc, shingle)
    counts as vote weights, md5 60-bit feature hash, per-bit weighted
    majority vote, bit-pack."""
    vote_cols = ",\n                       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN w ELSE -w END) AS b{b}"
        for b in range(bits)
    )
    sketch_sum = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
            WITH sh AS (
                SELECT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
                )
            ),
            hw AS (
                SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h,
                       COUNT(*) AS w
                FROM sh GROUP BY id, shingle
            ),
            votes AS (SELECT id, {vote_cols}
                      FROM hw GROUP BY id)
            SELECT id AS doc_id, CAST({sketch_sum} AS BIGINT) AS simhash
            FROM votes"""


def _neardup_sql(block_planes: int = 6, tables: int = 4, probes: int = 2,
                 dim: int = 64, seed: int = 7, threshold: float = 0.3) -> str:
    """Oracle that re-runs OR-amplified hyperplane-blocked cosine near-dup
    in SQL: the SAME seeded plane bank as dedup.embedding_neardup_pairs
    (via dedup.neardup_planes) → identical per-table buckets, 1-bit-flip
    multi-probe on one join side, DISTINCT (least, greatest) candidate
    pairs, exact cosine verify."""
    from towhee_spark.functions.dedup import neardup_planes  # noqa: PLC0415

    bank = neardup_planes(tables, block_planes, dim, seed)

    def bucket_terms(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, "
            f"[{', '.join(repr(float(x)) for x in bank[t * block_planes + p])}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p in range(block_planes)
        )

    sigs = "\n                UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {bucket_terms(t)} AS bucket FROM e"
        for t in range(tables)
    )
    flips = [0] + [1 << p for p in range(min(probes - 1, block_planes))]
    return f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sigs AS (
                {sigs}
            ),
            probed AS (
                SELECT vec_id, tbl, xor(bucket, f.off) AS bucket
                FROM sigs, (SELECT unnest([{', '.join(str(o) for o in flips)}]) AS off) f
            ),
            cand AS (
                SELECT DISTINCT least(x.vec_id, y.vec_id) AS id_a,
                                greatest(x.vec_id, y.vec_id) AS id_b
                FROM sigs x JOIN probed y
                  ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
            )
            SELECT id_a, id_b,
                   ROUND(list_dot_product(va.v, vb.v)
                         / (sqrt(list_dot_product(va.v, va.v))
                            * sqrt(list_dot_product(vb.v, vb.v))), 6) AS cosine
            FROM cand JOIN e va ON cand.id_a = va.vec_id
                      JOIN e vb ON cand.id_b = vb.vec_id
            WHERE ROUND(list_dot_product(va.v, vb.v)
                        / (sqrt(list_dot_product(va.v, va.v))
                           * sqrt(list_dot_product(vb.v, vb.v))), 6) >= {threshold}"""


def _pii_sql() -> str:
    """Mirror of pii_scrub/pii_count over the deterministically-augmented
    text: identical patterns, identical replace-then-count chain."""
    from towhee_spark.functions.text import PII_PATTERNS  # noqa: PLC0415

    em, ph, ssn = PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ssn"]
    t = ("coalesce(text,'') || ' contact: user' || doc_id::VARCHAR || "
         "'@example.com or +1 555-000-' || lpad(doc_id::VARCHAR, 4, '0')")
    no_em = f"regexp_replace({t}, '{em}', '[PII]', 'g')"
    no_ph = f"regexp_replace({no_em}, '{ph}', '[PII]', 'g')"
    return f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all({t}, '{em}'))
                      + len(regexp_extract_all({no_em}, '{ph}'))
                      + len(regexp_extract_all({no_ph}, '{ssn}')) AS INT) AS n_pii,
                   regexp_replace(regexp_replace(regexp_replace(
                       {t}, '{em}', '[PII]', 'g'), '{ph}', '[PII]', 'g'),
                       '{ssn}', '[PII]', 'g') AS scrubbed
            FROM documents"""


def _rag_sql(norm: str, dim: int = 32, k: int = 2, chunk: int = 12, step: int = 8) -> str:
    """End-to-end RAG retrieval oracle: chunk windows → md5-parity sparse
    embeddings (unit-norm) → sparse dot product (== cosine) → top-k chunks
    per query with (score desc, doc_id, start) ordering. Structurally
    dot-0 pairs (no shared nonzero dim) are absent from the sparse join but
    can never reach the top-k on this data; zero-vector chunks are excluded
    on both sides."""
    embed = f"""
                SELECT key1, key2, CAST(h % {dim} AS INT) AS dim_idx,
                       SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) AS v
                FROM (SELECT key1, key2,
                             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                      FROM (SELECT key1, key2,
                                   unnest(string_split_regex(trim(body), '\\s+')) AS tok
                            FROM __SRC__ WHERE trim(coalesce(body, '')) <> ''))
                GROUP BY key1, key2, dim_idx
                HAVING SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) <> 0"""
    return f"""
            WITH chunks AS (
                SELECT doc_id, CAST(s AS INT) AS start,
                       array_to_string(toks[s + 1 : s + {chunk}], ' ') AS chunk
                FROM (SELECT doc_id, string_split({norm}, ' ') AS toks
                      FROM documents WHERE {norm} <> ''),
                     UNNEST(range(0, greatest(len(toks) - {chunk} + {step} - 1, 0) + 1,
                                  {step})) AS u(s)
            ),
            craw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, start AS key2, chunk AS body FROM chunks)")}),
            cnorm AS (SELECT key1, key2, sqrt(SUM(v * v)) AS nrm FROM craw GROUP BY key1, key2),
            cemb AS (
                SELECT r.key1 AS doc_id, r.key2 AS start, r.dim_idx, r.v / n.nrm AS val
                FROM craw r JOIN cnorm n ON r.key1 = n.key1 AND r.key2 = n.key2
            ),
            qraw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, 0 AS key2, text AS body FROM documents WHERE doc_id < 3)")}),
            qnorm AS (SELECT key1, sqrt(SUM(v * v)) AS nrm FROM qraw GROUP BY key1),
            qemb AS (
                SELECT r.key1 AS query_id, r.dim_idx, r.v / n.nrm AS val
                FROM qraw r JOIN qnorm n ON r.key1 = n.key1
            ),
            scored AS (
                -- TOTAL over query×chunk (ADVICE): structurally-zero pairs
                -- (no shared nonzero dim) score 0.0 exactly like the dense
                -- Spark plan, instead of being absent from the sparse join
                SELECT qk.query_id, ck.doc_id, ck.start,
                       COALESCE(SUM(q.val * c.val), 0.0) AS dot
                FROM (SELECT DISTINCT key1 AS query_id FROM qraw) qk
                CROSS JOIN (SELECT DISTINCT key1 AS doc_id, key2 AS start FROM craw) ck
                LEFT JOIN qemb q ON q.query_id = qk.query_id
                LEFT JOIN cemb c ON c.doc_id = ck.doc_id AND c.start = ck.start
                                AND c.dim_idx = q.dim_idx
                WHERE ck.doc_id != qk.query_id
                GROUP BY qk.query_id, ck.doc_id, ck.start
            ),
            ranked AS (
                SELECT query_id, doc_id, start,
                       ROUND(ROUND(dot, 6), 4) AS score4,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY ROUND(dot, 6) DESC, doc_id, start) AS INT) AS rank
                FROM scored
            )
            SELECT r.query_id, r.rank, r.doc_id, r.start, r.score4, ch.chunk
            FROM ranked r JOIN chunks ch
              ON ch.doc_id = r.doc_id AND ch.start = r.start
            WHERE r.rank <= {k}"""


def _rag_lsh_sql(norm: str, dim: int = 32, k: int = 2, chunk: int = 12,
                 step: int = 8, planes: int = 8, probes: int = 4,
                 seed: int = 7) -> str:
    """Oracle for the LSH-index RAG composite: the _rag_sql chunk/embed
    CTEs composed with the _lsh_topk_sql algorithm mirror — plane dots are
    computed from the SPARSE embeddings via a (plane, dim_idx, weight)
    constant table, buckets packed with CASE sums, queries probe 1-bit
    flips, candidates dedup, and survivors are exactly cosine-reranked with
    the (score desc, doc_id, start) total order. Total over candidates
    (COALESCE dot 0) like the dense Spark plan.

    Sign-stability: bucket bits flip only at plane-dot == 0; measured
    min |dot| over all 28,880 (entity, plane) dots at sf0.01 is 1.5e-5 —
    ~11 orders above float-reorder epsilon, so sparse-sum (DuckDB) vs
    sequential-aggregate (Spark) ordering cannot flip a bucket."""
    import numpy as np  # noqa: PLC0415

    pl = np.random.default_rng(seed).normal(size=(planes, dim))
    plane_rows = ", ".join(
        f"({p}, {d}, {pl[p, d]!r})" for p in range(planes) for d in range(dim)
    )
    offsets = [0] + [1 << p for p in range(min(probes - 1, planes))]
    probe_list = ", ".join(f"xor(b0, {off})" for off in offsets)
    embed = f"""
                SELECT key1, key2, CAST(h % {dim} AS INT) AS dim_idx,
                       SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) AS v
                FROM (SELECT key1, key2,
                             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                      FROM (SELECT key1, key2,
                                   unnest(string_split_regex(trim(body), '\\s+')) AS tok
                            FROM __SRC__ WHERE trim(coalesce(body, '')) <> ''))
                GROUP BY key1, key2, dim_idx
                HAVING SUM(CASE WHEN (h >> 59) & 1 = 0 THEN 1.0 ELSE -1.0 END) <> 0"""
    return f"""
            WITH chunks AS (
                SELECT doc_id, CAST(s AS INT) AS start,
                       array_to_string(toks[s + 1 : s + {chunk}], ' ') AS chunk
                FROM (SELECT doc_id, string_split({norm}, ' ') AS toks
                      FROM documents WHERE {norm} <> ''),
                     UNNEST(range(0, greatest(len(toks) - {chunk} + {step} - 1, 0) + 1,
                                  {step})) AS u(s)
            ),
            craw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, start AS key2, chunk AS body FROM chunks)")}),
            cnorm AS (SELECT key1, key2, sqrt(SUM(v * v)) AS nrm FROM craw GROUP BY key1, key2),
            cemb AS (
                SELECT r.key1 AS doc_id, r.key2 AS start, r.dim_idx, r.v / n.nrm AS val
                FROM craw r JOIN cnorm n ON r.key1 = n.key1 AND r.key2 = n.key2
            ),
            qraw AS ({embed.replace("__SRC__", "(SELECT doc_id AS key1, 0 AS key2, text AS body FROM documents WHERE doc_id < 3)")}),
            qnorm AS (SELECT key1, sqrt(SUM(v * v)) AS nrm FROM qraw GROUP BY key1),
            qemb AS (
                SELECT r.key1 AS query_id, r.dim_idx, r.v / n.nrm AS val
                FROM qraw r JOIN qnorm n ON r.key1 = n.key1
            ),
            pl(p, d, w) AS (SELECT * FROM (VALUES {plane_rows})),
            cdot AS (
                SELECT c.doc_id, c.start, pl.p, SUM(c.val * pl.w) AS dot
                FROM cemb c JOIN pl ON c.dim_idx = pl.d
                GROUP BY c.doc_id, c.start, pl.p
            ),
            cbuck AS (
                SELECT doc_id, start,
                       CAST(SUM(CASE WHEN dot > 0
                                THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
                       AS bucket
                FROM cdot GROUP BY doc_id, start
            ),
            qdot AS (
                SELECT q.query_id, pl.p, SUM(q.val * pl.w) AS dot
                FROM qemb q JOIN pl ON q.dim_idx = pl.d
                GROUP BY q.query_id, pl.p
            ),
            qbuck AS (
                SELECT query_id,
                       CAST(SUM(CASE WHEN dot > 0
                                THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT)
                       AS b0
                FROM qdot GROUP BY query_id
            ),
            pr AS (SELECT query_id, unnest([{probe_list}]) AS bucket FROM qbuck),
            cand AS (
                SELECT DISTINCT p.query_id, cb.doc_id, cb.start
                FROM pr p JOIN cbuck cb ON cb.bucket = p.bucket
                WHERE cb.doc_id != p.query_id
            ),
            qn2 AS (SELECT query_id, sqrt(SUM(val * val)) AS qn FROM qemb GROUP BY query_id),
            cn2 AS (SELECT doc_id, start, sqrt(SUM(val * val)) AS cn FROM cemb GROUP BY doc_id, start),
            scored AS (
                SELECT ca.query_id, ca.doc_id, ca.start,
                       COALESCE(SUM(q.val * c.val), 0.0)
                       / (qn2.qn * cn2.cn) AS score
                FROM cand ca
                JOIN qn2 ON qn2.query_id = ca.query_id
                JOIN cn2 ON cn2.doc_id = ca.doc_id AND cn2.start = ca.start
                LEFT JOIN qemb q ON q.query_id = ca.query_id
                LEFT JOIN cemb c ON c.doc_id = ca.doc_id AND c.start = ca.start
                                AND c.dim_idx = q.dim_idx
                GROUP BY ca.query_id, ca.doc_id, ca.start, qn2.qn, cn2.cn
            ),
            ranked AS (
                SELECT query_id, doc_id, start,
                       ROUND(ROUND(score, 6), 4) AS score4,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY ROUND(score, 6) DESC, doc_id, start) AS INT) AS rank
                FROM scored
            )
            SELECT r.query_id, r.rank, r.doc_id, r.start, r.score4, ch.chunk
            FROM ranked r JOIN chunks ch
              ON ch.doc_id = r.doc_id AND ch.start = r.start
            WHERE r.rank <= {k}"""


def _rerank_sql(norm: str) -> str:
    """Token-set-Jaccard rerank oracle: score = |q∩d| / |q∪d| over distinct
    normalized tokens (exact rationals — engine-independent), rank by
    (score desc, cand_id) — mirrors rerank(scorer=token_jaccard_scorer())."""
    qn = norm.replace("text", "q.text")
    dn = norm.replace("text", "c.text")
    return f"""
            WITH pairs AS (
                SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                       list_distinct(string_split({qn}, ' ')) AS qt,
                       list_distinct(string_split({dn}, ' ')) AS dt
                FROM (SELECT * FROM documents WHERE doc_id < 5) q,
                     (SELECT * FROM documents WHERE doc_id % 7 = 0) c
            ),
            scored AS (
                SELECT query_id, cand_id,
                       ROUND(CASE WHEN len(list_distinct(list_concat(qt, dt))) > 0
                             THEN CAST(len(list_intersect(qt, dt)) AS DOUBLE)
                                  / len(list_distinct(list_concat(qt, dt)))
                             ELSE 0.0 END, 6) AS score
                FROM pairs
            ),
            ranked AS (
                SELECT query_id, cand_id, score,
                       CAST(row_number() OVER (PARTITION BY query_id
                                               ORDER BY score DESC, cand_id) AS INT) AS rank
                FROM scored
            )
            SELECT query_id, cand_id, rank, score FROM ranked WHERE rank <= 3"""


def _jaccard_pairs_sql(norm: str, threshold: float, cap: int | None = None) -> str:
    """Exact word-3-gram Jaccard pair SQL — the hard oracle for the exact,
    capped, MinHash-LSH-verified and SimHash-verified dedup queries (the
    approximate tiers verify candidates exactly, so with recall-1 blocking
    their output IS this set). ``cap`` mirrors max_shingle_freq: shingles in
    more than ``cap`` docs are dropped from intersections, but doc sizes
    stay uncapped — exactly the Spark operator's semantics."""
    cap_cte = (
        f""",
            kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {cap}),
            shj AS (SELECT sh.id, sh.shingle FROM sh JOIN kept USING (shingle))"""
        if cap is not None
        else """,
            shj AS (SELECT id, shingle FROM sh)"""
    )
    return f"""
            WITH sh AS (
                SELECT DISTINCT doc_id AS id, shingle FROM (
                    SELECT doc_id,
                           CASE WHEN len(toks) >= 3 THEN
                               unnest([array_to_string(toks[i:i+2], ' ')
                                       for i in range(1, len(toks) - 1)])
                           ELSE array_to_string(toks, ' ') END AS shingle
                    FROM (SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents)
                )
            ),
            sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id){cap_cte},
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
            FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
            WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {threshold}"""


def _dedup_groups_sql(norm: str, threshold: float, survivors: bool = False) -> str:
    """Connected components of the exact Jaccard pair graph via recursive
    min-label propagation — the oracle for the large-star/small-star
    grouping: every doc's group is the minimum doc_id among all docs
    reachable through the (undirected) pair edges."""
    body = f"""
            WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(norm, threshold=threshold)}),
            edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(node, lab) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
            ),
            comp AS (SELECT node AS doc_id, MIN(lab) AS group_id
                     FROM reach GROUP BY node)"""
    if survivors == "best":
        return body + f""",
            q AS ({_quality_sql()}),
            j AS (SELECT c.doc_id, c.group_id, q.qscore
                  FROM comp c JOIN q USING (doc_id)),
            r AS (SELECT doc_id, group_id, qscore,
                         row_number() OVER (PARTITION BY group_id
                                            ORDER BY qscore DESC, doc_id) AS rn,
                         COUNT(*) OVER (PARTITION BY group_id) AS gs
                  FROM j)
            SELECT doc_id, group_id, CAST(gs AS BIGINT) AS group_size, qscore
            FROM r WHERE rn = 1"""
    if survivors:
        return body + """
            SELECT group_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS group_size
            FROM comp GROUP BY group_id"""
    return body + """
            SELECT doc_id, group_id FROM comp"""


def _dup_span_ctes(norm: str, k: int) -> str:
    """Shared CTE chain for the duplicate_spans / strip_duplicate_spans
    oracles (the SQL twin of dedup._dup_islands): base → k-gram window
    hashes → ≥2-distinct-docs filter → gaps-and-islands merge (merge
    while start ≤ prev + k). Ends at ``isl``; each oracle adds its own
    final aggregation."""
    return f"""base AS (
                SELECT doc_id, string_split({norm}, ' ') AS toks,
                       CAST(len(string_split({norm}, ' ')) AS BIGINT) AS n_tokens
                FROM documents
            ),
            w0 AS (
                SELECT doc_id, toks,
                       unnest(range(1, CAST(len(toks) AS BIGINT) - {k} + 2)) AS start
                FROM base WHERE len(toks) >= {k}
            ),
            w AS (
                SELECT doc_id, start,
                       ('0x' || substr(md5(array_to_string(
                            toks[start:start+{k}-1], ' ')), 1, 15))::BIGINT AS h
                FROM w0
            ),
            duph AS (SELECT h FROM w GROUP BY h
                     HAVING COUNT(DISTINCT doc_id) >= 2),
            hits AS (SELECT w.doc_id, w.start FROM w JOIN duph USING (h)),
            isl0 AS (
                SELECT doc_id, start,
                       CASE WHEN lag(start) OVER pw IS NULL
                              OR start > lag(start) OVER pw + {k}
                            THEN 1 ELSE 0 END AS brk
                FROM hits WINDOW pw AS (PARTITION BY doc_id ORDER BY start)
            ),
            isl AS (SELECT doc_id, start,
                           SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS g
                    FROM isl0)"""


def _duplicate_spans_sql(norm: str, k: int) -> str:
    """Cross-doc duplicated k-token spans, mirrored stage by stage via
    the shared _dup_span_ctes chain."""
    return f"""
            WITH {_dup_span_ctes(norm, k)},
            spans AS (SELECT doc_id, g, MAX(start) - MIN(start) + {k} AS len
                      FROM isl GROUP BY doc_id, g),
            per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
                           CAST(SUM(len) AS BIGINT) AS dup_tokens
                    FROM spans GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens,
                   COALESCE(dup_spans, 0) AS dup_spans,
                   COALESCE(dup_tokens, 0) AS dup_tokens,
                   ROUND(COALESCE(dup_tokens, 0) / b.n_tokens, 6) AS dup_frac
            FROM base b LEFT JOIN per USING (doc_id)"""


def _strip_spans_sql(norm: str, k: int) -> str:
    """Oracle for dedup.strip_duplicate_spans: the shared span chain,
    spans widened to (s_start, s_end), token positions cut by a NOT
    EXISTS range probe, survivors rejoined in position order."""
    return f"""
            WITH {_dup_span_ctes(norm, k)},
            spans AS (SELECT doc_id, MIN(start) AS s_start,
                             MAX(start) + {k} - 1 AS s_end
                      FROM isl GROUP BY doc_id, g),
            tokpos AS (SELECT doc_id, n_tokens, toks,
                              unnest(range(1, CAST(len(toks) AS BIGINT) + 1)) AS pos
                       FROM base),
            tok AS (SELECT doc_id, n_tokens, pos, toks[pos] AS tok FROM tokpos),
            kept AS (SELECT t.* FROM tok t
                     WHERE NOT EXISTS (
                         SELECT 1 FROM spans s
                         WHERE s.doc_id = t.doc_id
                           AND t.pos BETWEEN s.s_start AND s.s_end)),
            reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                           string_agg(tok, ' ' ORDER BY pos) AS clean_text
                    FROM kept GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens,
                   COALESCE(r.kept_tokens, 0) AS kept_tokens,
                   COALESCE(r.clean_text, '') AS clean_text
            FROM base b LEFT JOIN reb r USING (doc_id)"""


def _unigram_ppl_sql(norm: str) -> str:
    """Add-one-smoothed self-trained unigram LM, term for term: ln sees
    bit-identical (cf+1)/(T+V) doubles in both engines, avg_nll rounds to 6
    BEFORE the exp so ppl exponentiates the same value."""
    return f"""
            WITH tok AS (
                SELECT doc_id, unnest(string_split({norm}, ' ')) AS token
                FROM documents
            ),
            dt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
                   FROM tok WHERE token <> '' GROUP BY doc_id, token),
            fr AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cf FROM dt GROUP BY token),
            tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS t_total,
                           CAST(COUNT(*) AS BIGINT) AS v_total FROM fr),
            sc AS (
                SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                       ROUND(-SUM(c * ln((cf + 1.0) / (t_total + v_total)))
                             / SUM(c), 6) AS avg_nll
                FROM dt JOIN fr USING (token) CROSS JOIN tot
                GROUP BY doc_id
            )
            SELECT d.doc_id, COALESCE(n_tokens, 0) AS n_tokens, avg_nll,
                   ROUND(exp(avg_nll), 6) AS ppl
            FROM documents d LEFT JOIN sc USING (doc_id)"""


def _bigram_ppl_sql(norm: str, lam: float = 0.75) -> str:
    """Interpolated (Jelinek-Mercer) bigram LM, term for term: p(w2|w1) =
    λ·cb/c1 + (1−λ)·(cf+1)/(T+V) with the SAME expression tree shape as
    lm.bigram_perplexity so both engines feed ln the identical double
    (integer counts, exactly-representable λ, fixed op order); avg_nll
    rounds to 6 BEFORE the exp like the unigram oracle."""
    return f"""
            WITH d AS (SELECT doc_id,
                              list_filter(string_split({norm}, ' '),
                                  t -> t <> '') AS toks
                       FROM documents),
            bi AS (SELECT doc_id,
                          unnest(list_transform(
                              list_slice(toks, 1, len(toks) - 1),
                              (x, i) -> struct_pack(w1 := x,
                                                    w2 := toks[i + 1]))) AS g
                   FROM d WHERE len(toks) >= 2),
            db AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2,
                          CAST(COUNT(*) AS BIGINT) AS c
                   FROM bi GROUP BY doc_id, g.w1, g.w2),
            cb AS (SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cb
                   FROM db GROUP BY w1, w2),
            c1 AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1
                   FROM cb GROUP BY w1),
            tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
            dt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
                   FROM tok GROUP BY doc_id, token),
            fr AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cf
                   FROM dt GROUP BY token),
            tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS t_total,
                           CAST(COUNT(*) AS BIGINT) AS v_total FROM fr),
            sc AS (SELECT db.doc_id, CAST(SUM(db.c) AS BIGINT) AS n_bigrams,
                          ROUND(-SUM(db.c * ln(
                              {lam} * (cb.cb / c1.c1)
                              + {1.0 - lam} * ((fr.cf + 1.0)
                                               / (tot.t_total + tot.v_total))
                          )) / SUM(db.c), 6) AS avg_nll
                   FROM db
                   JOIN cb ON cb.w1 = db.w1 AND cb.w2 = db.w2
                   JOIN c1 ON c1.w1 = db.w1
                   JOIN fr ON fr.token = db.w2
                   CROSS JOIN tot
                   GROUP BY db.doc_id)
            SELECT d2.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, avg_nll,
                   ROUND(exp(avg_nll), 6) AS ppl
            FROM documents d2 LEFT JOIN sc ON sc.doc_id = d2.doc_id"""


def _quality_sql() -> str:
    n = "CAST(length(coalesce(text,'')) AS DOUBLE)"
    toks = ("CAST(CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE)")
    alpha = "CAST(len(regexp_extract_all(coalesce(text,''), '[A-Za-z]')) AS DOUBLE)"
    punct = "CAST(len(regexp_extract_all(coalesce(text,''), '[!?#*>{}\\[\\]|\\\\~^]')) AS DOUBLE)"
    from towhee_spark.functions.text import STOPWORDS_EN  # noqa: PLC0415

    pat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    stop = f"CAST(len(regexp_extract_all(lower(coalesce(text,'')), '{pat}')) AS DOUBLE)"
    return f"""
        SELECT doc_id, ROUND(greatest(0.0,
            (CASE WHEN {toks} >= 5 AND {toks} <= 5000 THEN 0.4 ELSE 0.0 END)
          + (CASE WHEN {n} > 0 THEN least(0.3, 0.3 * {alpha} / {n}) ELSE 0.0 END)
          + (CASE WHEN {toks} > 0 THEN least(0.3, 0.3 * ({stop} * 5.0) / {toks}) ELSE 0.0 END)
          - (CASE WHEN {n} > 0 THEN least(0.2, {punct} / {n}) ELSE 0.0 END)), 6) AS qscore
        FROM documents"""


def _text_stats_sql() -> str:
    def hits(words):
        pat = r"\b(" + "|".join(words) + r")\b"
        return f"len(regexp_extract_all(lower(coalesce(text,'')), '{pat}'))"

    from towhee_spark.functions.text import LANG_MARKERS  # noqa: PLC0415

    h = {lang: hits(words) for lang, words in LANG_MARKERS.items()}
    best = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    lang_case = "'und'"
    for lang in ("es", "fr", "de", "en"):
        lang_case = (
            f"CASE WHEN {h[lang]} > 0 AND {h[lang]} = {best} THEN '{lang}' "
            f"ELSE {lang_case} END"
        )
    tok_cnt = (
        "CASE WHEN trim(coalesce(text,'')) = '' THEN 0 ELSE "
        "len(string_split_regex(trim(text), '\\s+')) END"
    )
    norm = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
    return f"""
        SELECT doc_id, {lang_case} AS lang_guess,
               CAST({tok_cnt} AS INT) AS tok_cnt,
               md5({norm}) AS fp
        FROM documents"""
