"""Pandas reference for the ``transcript_features`` pipeline, run on a
small seeded instance: as-of join (backward, with tolerance), lag/lead,
forward fill, gap sessions and the hashed bag-of-words embedding."""

from __future__ import annotations

import numpy as np
import pandas as pd

GAP_S = 1800
TOLERANCE_S = 3600
EMBED_DIM = 32


def reference(turns: pd.DataFrame, ctx: pd.DataFrame) -> pd.DataFrame:
    from towhee_spark.kernels import embed_tokens_np  # noqa: PLC0415

    left = turns.sort_values("ts", kind="mergesort")
    right = ctx.sort_values("ts", kind="mergesort")
    j = pd.merge_asof(left, right, on="ts", by="conv_id", direction="backward",
                      tolerance=pd.Timedelta(seconds=TOLERANCE_S), allow_exact_matches=True)
    j = j.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)
    g = j.groupby("conv_id", sort=False)
    j["text_len"] = j["text"].str.len()
    j["text_len_lag1"] = g["text_len"].shift(1)
    j["text_len_lag2"] = g["text_len"].shift(2)
    j["text_len_lead1"] = g["text_len"].shift(-1)
    j["tool_ff"] = g["tool"].ffill()
    us = j["ts"].astype("datetime64[us]").astype("int64")
    gap = us.groupby(j["conv_id"]).diff()
    j["session_seq"] = (gap.isna() | (gap > GAP_S * 1_000_000)).astype(int) \
        .groupby(j["conv_id"]).cumsum()
    j["embedding"] = list(embed_tokens_np(j["text"], dim=EMBED_DIM))
    return j


def transcript_features_errors(spark, seed: int, n_convs: int = 40) -> list[str]:
    from towhee_spark.pipelines import pipeline  # noqa: PLC0415
    from towhee_spark.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA  # noqa: PLC0415
    from towhee_spark.synth import context_pdf, transcripts_pdf  # noqa: PLC0415

    turns = transcripts_pdf(n_convs=n_convs, seed=seed)
    ctx = context_pdf(turns, seed=seed + 1)
    got = pipeline("transcript_features", context=spark.createDataFrame(ctx, CONTEXT_SCHEMA))(
        spark.createDataFrame(turns, TRANSCRIPT_SCHEMA)).toPandas()
    want = reference(turns, ctx)
    if len(got) != len(want):
        return [f"reference: {len(got)} rows, want {len(want)}"]
    key = ["conv_id", "turn_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    errors = []
    for col in ["ctx_score", "ctx_label", "text_len_lag1", "text_len_lag2",
                "text_len_lead1", "tool_ff", "session_seq"]:
        a = got[col].astype(object).where(got[col].notna(), None)
        b = want[col].astype(object).where(want[col].notna(), None)
        bad = [k for k, (x, y) in enumerate(zip(a, b)) if x != y
               and not (isinstance(x, float) and isinstance(y, float) and np.isclose(x, y))]
        if bad:
            errors.append(f"reference: {col} differs on {len(bad)} rows, "
                          f"first {got.loc[bad[0], key].tolist()}: {a[bad[0]]!r} != {b[bad[0]]!r}")
    emb_got = np.array([np.asarray(e, dtype=np.float32) for e in got["embedding"]])
    emb_want = np.array(list(want["embedding"]), dtype=np.float32)
    if not np.allclose(emb_got, emb_want, atol=1e-6):
        errors.append("reference: embedding differs")
    return errors
