"""The benchmark's workloads. Each one builds its inputs from the seed in
``setup``, runs one operation per ``op`` call through the package's
public functions, and checks outputs in ``check_op`` (after every op) and
``check_run`` (once per run). The checks run outside the timed windows.

Spans name the layer a call goes into; ``spark`` marks the action that
executes a plan (the engine underneath every layer).
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

from harness import WORK, Tracer


class Workload:
    name = ""
    warmup_ops = 0  # untimed ops between the cold op and the timed warm ops

    def __init__(self, spark, seed: int, tracer: Tracer, scale: float = 1.0):
        self.spark, self.seed, self.tracer, self.scale = spark, seed, tracer, scale
        self.cpus = spark.sparkContext.defaultParallelism

    def scaled(self, n: int) -> int:
        return max(1, round(n * self.scale))

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        """Run operation ``i``; return the number of input rows it served."""
        raise NotImplementedError

    def check_op(self, i: int) -> list[str]:
        return []

    def check_run(self) -> list[str]:
        return []

    def layer_metrics(self, i: int) -> dict[str, float]:
        """Workload-specific per-layer values for traced op ``i``."""
        return {}

    def close(self) -> None:
        pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Transcripts(Workload):
    """Shared set-up of the two point-in-time workloads: a synthetic
    transcript corpus repartitioned by conversation and cached, plus a
    context table of every 5th turn.

    The corpus joins two ``transcripts_spark`` draws: ``n_convs`` ordinary
    conversations (2 to 39 turns) and ``n_hot`` hot ones of 10k turns. A
    single draw makes the hot count binomial, which moves the corpus size
    by about 8% from seed to seed; fixing it keeps the size and the skew
    the same on every seed while the seed still picks every value."""

    n_convs = 0
    n_hot = 0

    def setup(self) -> None:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from towhee_spark.layout import repartition_by_key  # noqa: PLC0415
        from towhee_spark.synth import transcripts_spark  # noqa: PLC0415

        parts = 2 * self.cpus * max(1, round(self.scale))
        with self.tracer.span("synth"):
            plain = transcripts_spark(self.spark, n_convs=self.scaled(self.n_convs),
                                      seed=self.seed, hot_frac=0.0, partitions=parts)
            hot = transcripts_spark(self.spark, n_convs=self.scaled(self.n_hot), seed=self.seed + 1,
                                    hot_frac=1.0, partitions=parts)
            c = plain.unionByName(hot.withColumn("conv_id", F.concat(F.lit("hot-"), "conv_id")))
            c = repartition_by_key(c, "conv_id", num_partitions=parts).cache()
            self.n_rows = c.count()
        self.corpus = c
        self.ctx = c.filter(F.col("turn_idx") % 5 == 0).select(
            "conv_id", "ts", F.length("text").cast("double").alias("ctx_score"))


class PitFeatures(_Transcripts):
    name = "pit_features"
    n_convs, n_hot = 20_000, 20  # ~0.61M turns

    def features(self):
        from towhee_spark.pipelines import pipeline  # noqa: PLC0415

        return pipeline("transcript_features", context=self.ctx)(self.corpus)

    def op(self, i: int) -> int:
        with self.tracer.span("pipelines"):
            out = self.features()
        with self.tracer.span("spark"):
            _noop(out)
        return self.n_rows

    def check_run(self) -> list[str]:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from refcheck import transcript_features_errors  # noqa: PLC0415

        errors = transcript_features_errors(self.spark, self.seed)
        out = self.features()
        h = F.pmod(F.xxhash64(*[F.col(c) for c in out.columns]), F.lit(1_000_000_007))
        sums = [tuple(out.agg(F.count(F.lit(1)), F.sum(h)).first()) for _ in range(2)]
        if sums[0][0] != self.n_rows:
            errors.append(f"output has {sums[0][0]} rows, input has {self.n_rows} turns")
        if sums[0] != sums[1]:
            errors.append(f"checksum differs between repeats: {sums}")
        return errors


class _LineageWrites(Workload):
    """Ops that write through ``lineage.write_with_lineage``, each into a
    fresh directory: the writer skips buckets that already have
    manifests, so reusing a directory would make every repeat a no-op."""

    n_buckets = 16

    def __init__(self, spark, seed, tracer, scale=1.0):
        super().__init__(spark, seed, tracer, scale)
        self.root = os.path.join(WORK, f"lineage_{self.name}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.results: dict[int, dict] = {}

    def base(self, i: int) -> str:
        return os.path.join(self.root, f"op{i}")

    def write(self, i: int, df, key: str) -> None:
        from towhee_spark.lineage import write_with_lineage  # noqa: PLC0415

        with self.tracer.span("lineage"):
            self.results[i] = write_with_lineage(df, self.base(i), key=key,
                                                 n_buckets=self.n_buckets)

    def manifests(self, i: int) -> list[dict]:
        d = os.path.join(self.base(i), "_lineage")
        out = []
        for f in sorted(os.listdir(d)):
            if f.startswith("bucket="):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    def write_errors(self, i: int) -> list[str]:
        res = self.results[i]
        if res["written"] != list(range(self.n_buckets)) or res["skipped"]:
            return [f"op {i} wrote buckets {res['written']}, skipped {res['skipped']}"]
        return []

    def layer_metrics(self, i: int) -> dict[str, float]:
        ms = self.manifests(i)
        job_s = max(m.get("metrics", {}).get("write_job_wall_sec", 0.0) for m in ms)
        n_bytes = sum(m.get("metrics", {}).get("bytes", 0) for m in ms)
        return {"lineage.write_job_s": job_s,
                "lineage.bytes_per_row": n_bytes / max(1, sum(m["rows"] for m in ms))}

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


class PitBackfill(_LineageWrites, _Transcripts):
    name = "pit_backfill"
    n_convs, n_hot = 10_000, 10  # ~0.3M turns

    def matrix(self):
        from towhee_spark.pipelines import pipeline  # noqa: PLC0415

        return pipeline("feature_matrix", context={"ctx": self.ctx},
                        feature_windows={"10m": 600, "1h": 3600},
                        label_horizon=600)(self.corpus)

    def op(self, i: int) -> int:
        with self.tracer.span("pipelines"):
            fm = self.matrix()
        self.write(i, fm, key="conv_id")
        return self.n_rows

    def check_op(self, i: int) -> list[str]:
        errors = self.write_errors(i)
        rows = sum(m["rows"] for m in self.manifests(i))
        if rows != self.n_rows:
            errors.append(f"op {i} manifests hold {rows} rows, input has {self.n_rows} turns")
        return errors

    def check_run(self) -> list[str]:
        from towhee_spark.lineage import verify_lineage  # noqa: PLC0415

        last = max(self.results)
        if not verify_lineage(self.matrix(), self.base(last), key="conv_id"):
            return [f"verify_lineage failed for op {last}"]
        return []


class CorpusCuration(_LineageWrites):
    """Dedup a labelled document corpus, tokenize, encode and pack the
    survivors, and write the packs as training shards through lineage.

    The dedup stages are the ones ``pretraining_curation`` runs (exact
    dedup, MinHash-LSH near-dup pairs, connected-component survivors),
    called directly so that one op fits a short run; the composite's
    quality gate, decontamination and split are left out. Packs carry
    their document spans, so the checks read the survivors back from the
    written shards instead of executing the plan again."""

    name = "corpus_curation"
    n_docs = 1_000
    seq_len = 512
    neardup_threshold = 0.8

    def setup(self) -> None:
        import pandas as pd  # noqa: PLC0415
        from corpus import make_corpus  # noqa: PLC0415

        from towhee_spark.functions import tokenize  # noqa: PLC0415

        sp = self.spark
        with self.tracer.span("synth"):
            self.corpus = make_corpus(self.scaled(self.n_docs), self.seed)
            pdf = pd.DataFrame({"doc_id": self.corpus.ids, "text": self.corpus.texts})
            self.docs = sp.createDataFrame(pdf, "doc_id long, text string") \
                .repartition(self.cpus).cache()
            self.n_rows = self.docs.count()
        with self.tracer.span("functions.tokenize"):
            self.vocab = tokenize.wordpiece_vocab(self.docs)
            pieces = tokenize.wordpiece_tokenize(self.docs, self.vocab, impl="arrow")
            table = tokenize.piece_id_table(pieces).toPandas()
            self.id_table = sp.createDataFrame(table, "piece string, piece_id int").cache()
            self.id_table.count()
        self.persistent_after_setup = self._persistent()
        self.pairs: dict[int, object] = {}
        self.packs: dict[int, object] = {}
        self.kept: dict[int, set[int]] = {}

    def _persistent(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001

    def op(self, i: int) -> int:
        from towhee_spark.functions import dedup, packing, tokenize  # noqa: PLC0415

        with self.tracer.span("functions.dedup"):
            kept = self.docs.join(dedup.dedup_exact(self.docs).select("doc_id"), "doc_id")
            pairs = dedup.minhash_lsh_pairs(kept, threshold=self.neardup_threshold)
            cur = kept.join(dedup.dedup_survivors(kept, pairs).select("doc_id"), "doc_id")
        with self.tracer.span("functions.tokenize"):
            pieces = tokenize.wordpiece_tokenize(cur, self.vocab, impl="arrow")
            # materialize_packs reads its input twice; its docstring asks
            # callers to cache an encode output
            ids = tokenize.encode_ids(pieces, self.id_table, impl="arrow").cache()
        with self.tracer.span("functions.packing"):
            packs = packing.materialize_packs(ids, seq_len=self.seq_len, with_spans=True)
        self.write(i, packs, key="pack_id")
        ids.unpersist()
        self.pairs[i], self.packs[i] = pairs, packs
        return self.n_rows

    def shards(self, i: int) -> list:
        """(n_fill, number of ids, span doc ids) of every pack op ``i`` wrote."""
        from towhee_spark.lineage import read_with_lineage  # noqa: PLC0415

        return read_with_lineage(self.spark, self.base(i)).selectExpr(
            "n_fill", "size(ids)", "transform(doc_spans, s -> s.doc_id)").collect()

    def kept_ids(self, i: int) -> set[int]:
        """Survivor ids of op ``i``, read back from its shards."""
        if i not in self.kept:
            self.kept[i] = {d for r in self.shards(i) for d in r[2]}
        return self.kept[i]

    def check_op(self, i: int) -> list[str]:
        from towhee_spark.functions.dedup import release_cached  # noqa: PLC0415

        errors = self.write_errors(i)
        stats = sorted((m["rows"], m["checksum"]) for m in self.manifests(i))
        if i == 0:
            self.first_stats = stats
            c = self.corpus
            dropped = set(c.ids) - self.kept_ids(i)
            missed = set(c.exact_copies) - dropped
            if missed:
                errors.append(f"{len(missed)} exact copies kept, e.g. {sorted(missed)[:5]}")
            wrong = dropped - c.related()
            if wrong:
                errors.append(f"{len(wrong)} unrelated documents dropped, e.g. {sorted(wrong)[:5]}")
            shards = self.shards(i)
            partial = sum(1 for r in shards if r[1] != self.seq_len)
            if partial > 1 or any(r[0] != r[1] for r in shards):
                errors.append(f"{partial} of {len(shards)} packs hold other than "
                              f"{self.seq_len} ids (only the stream tail may)")
        elif stats != self.first_stats:
            errors.append(f"op {i} manifests differ from op 0's (rows, checksum)")
        release_cached(self.pairs.pop(i))
        self.kept.pop(i, None)
        if self._persistent() != self.persistent_after_setup:
            errors.append(f"op {i} left {self._persistent()} persistent RDDs, "
                          f"set-up left {self.persistent_after_setup}")
        return errors

    def layer_metrics(self, i: int) -> dict[str, float]:
        """Lineage figures and the dedup guard ratios, read from the op's
        shards outside the timed op."""
        c = self.corpus
        kept = self.kept_ids(i)
        near = set(c.near_copies)
        return {**super().layer_metrics(i),
                "functions.dedup.neardup_recall": len(near - kept) / max(1, len(near)),
                "functions.dedup.kept_frac": len(kept) / max(1, len(c.ids))}

    def check_run(self) -> list[str]:
        from towhee_spark.lineage import verify_lineage  # noqa: PLC0415

        last = max(self.packs)
        if not verify_lineage(self.packs[last], self.base(last), key="pack_id"):
            return [f"verify_lineage failed for op {last}"]
        return []


class PipeRequests(Workload):
    """Closed loop, one client: each request is one conversation sent
    through ``Pipeline.run_rows``, and the next request goes out when
    the reply is back.

    Request ``i`` is the conversation at quantile ``frac(i * 0.618...)``
    of the corpus's conversation lengths. Successive requests spread
    over the whole length distribution, and request ``i`` has nearly
    the same size on every seed, so a run of a few requests serves the
    same load whatever the seed."""

    name = "pipe_requests"
    n_convs = 400
    # the first requests after the cold one are still slower (JIT, worker reuse)
    warmup_ops = 2

    def setup(self) -> None:
        from pyspark.sql import types as T  # noqa: PLC0415

        from towhee_spark.pipeline import Pipeline  # noqa: PLC0415
        from towhee_spark.synth import transcripts_pdf  # noqa: PLC0415

        with self.tracer.span("synth"):
            pdf = transcripts_pdf(n_convs=self.n_convs, seed=self.seed)
            self.requests = []
            for _, g in pdf.groupby("conv_id", sort=True):
                g = g.sort_values(["ts", "turn_idx"])
                self.requests.append((
                    g.turn_idx.astype(int).tolist(), g.text.tolist(),
                    (g.ts.astype("int64") // 1000).tolist()))  # epoch ms
            self.requests.sort(key=lambda r: len(r[0]))  # stable: conv_id order within a length
        L, S = T.LongType(), T.StringType()
        self.schema = T.StructType([
            T.StructField("idx", T.ArrayType(L)), T.StructField("text", T.ArrayType(S)),
            T.StructField("t", T.ArrayType(L)), T.StructField("__invocation", L),
            T.StructField("__row_order", L)])
        self.pipe = (
            Pipeline.input("idx", "text", "t")
            .flat_map(("idx", "text", "t"), ("turn_idx", "text", "t"),
                      lambda a, b, c: list(zip(a, b, c)), out_types=[L, S, L])
            .map("turn_idx", "pos", lambda i: i + 1)  # compiles to a Column
            .map("text", "sig", lambda s: zlib.crc32(s.encode()) % 1000, out_types=[L])
            .filter(("sig", "t"), ("sig", "t"), "pos", lambda p: p % 3 != 0)
            .time_window(("sig",), ("span",), "t", 600, 600,
                         lambda s: max(s) - min(s) + len(s), out_types=[L],
                         emit_start="w0")
            .output("w0", "span"))
        self.replies: dict[int, tuple] = {}

    def op(self, i: int) -> int:
        q = (i * 0.6180339887498949) % 1.0
        req = self.requests[int(q * len(self.requests))]
        with self.tracer.span("pipeline"):
            self.replies[i] = (req, self.pipe.run_rows(self.spark, [req], schema=self.schema))
        return len(req[0])

    def check_op(self, i: int) -> list[str]:
        req, got = self.replies.pop(i)
        want = expected_reply(req)
        return [] if got == want else [f"request {i}: got {got[:3]}..., want {want[:3]}..."]


def expected_reply(req) -> list[tuple]:
    """Plain-Python evaluation of the request pipeline: map, filter, then
    600 s tumbling windows (epoch ms) reduced by max - min + count."""
    windows: dict[int, list[int]] = {}
    for i, s, t in zip(*req):
        if (i + 1) % 3 != 0:
            windows.setdefault(t // 600_000, []).append(zlib.crc32(s.encode()) % 1000)
    return [(k * 600, max(v) - min(v) + len(v)) for k, v in sorted(windows.items())]


WORKLOADS = {w.name: w for w in (PitFeatures, PitBackfill, CorpusCuration, PipeRequests)}
