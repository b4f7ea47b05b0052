"""log_batch: the paper's batch layer, end to end, in one job per pass.

raw text -> ``parse_log_lines`` -> ``tag_events`` (29 templates) ->
``feature_counts_pivot`` and ``sessionize`` + ``label_sessions`` ->
parquet writes -> ``stratified_split`` / ``balanced_class_weights`` /
``train_weighted_lr`` / ``evaluate_binary``.

Untraced, a pass composes the public functions lazily, exactly as a
caller of the package would, and only the two writes and the ML calls
force work. Traced, each layer's output is persisted and forced under
its own span, so every span is that layer's self time.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback

from pyspark.ml.feature import VectorAssembler
from pyspark.sql import functions as F

from log_analysis_bigdata_spark.functions.logparse import parse_log_lines
from log_analysis_bigdata_spark.functions.templates import load_templates, tag_events
from log_analysis_bigdata_spark.ml.pipeline import (
    balanced_class_weights,
    evaluate_binary,
    stratified_split,
    train_weighted_lr,
)
from log_analysis_bigdata_spark.operators.features import feature_counts_pivot
from log_analysis_bigdata_spark.operators.sessionize import label_sessions, sessionize

from . import gen
from .spans import RunResult, median, sum_stats
from .tables import read_rows

# The warm-up corpus is large enough that the LR's 20 % test split is
# never empty: evaluate_binary raises on an empty test set.
SIZES = {
    "full": {"blocks": 250, "warm_blocks": 60},
    "smoke": {"blocks": 60, "warm_blocks": 60},
}
SETUP_REPS = 3
# The traced pass's spans, one per layer, in pass order.
LAYER_SPANS = ("batch.parse", "batch.tag", "batch.features", "batch.sessions",
               "batch.write", "batch.ml")


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.size = SIZES[ctx.size]
        self.passes: list[dict] = []

    def setup(self) -> list[float]:
        """Write the corpora. The repeated set-up step loads the template
        table with ``load_templates``; then one untimed pass over a small
        corpus warms the JVM up."""
        self.corpus = gen.write_batch_corpus(self.ctx.seed, self.ctx.dir("corpus"),
                                             self.size["blocks"])
        warm = gen.write_batch_corpus(self.ctx.seed + 10_000, self.ctx.dir("warm"),
                                      self.size["warm_blocks"])
        steps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.templates = load_templates(self.spark, self.corpus.templates_csv)
            steps.append(time.perf_counter() - t0)
        self._pass(warm, self.ctx.dir("warm_out"), traced=False)
        return steps

    def _pass(self, corpus: gen.BatchCorpus, out: str, traced: bool) -> dict:
        spark, tr = self.spark, self.tr
        info: dict = {}
        raw = spark.read.text(corpus.text_dir)
        labels = spark.read.csv(corpus.labels_csv, header=True).select(
            F.col("BlockId").alias("block_id"), F.col("Label").alias("label"))
        feat_path, sess_path = os.path.join(out, "features"), os.path.join(out, "sessions")

        parsed = parse_log_lines(raw)
        if traced:
            with tr.span("batch.parse"):
                parsed = parsed.persist()
                parsed.count()
            with tr.span("batch.tag"):
                tagged = tag_events(parsed, self.templates).persist()
                tagged.count()
            info["tagged"] = tagged.count()
            info["matched"] = tagged.filter(F.col("event_id").isNotNull()).count()
            with tr.span("batch.features"):
                feats = feature_counts_pivot(tagged, "block_id", "event_id", gen.EVENT_IDS).persist()
                feats.count()
            with tr.span("batch.sessions"):
                sessions = label_sessions(
                    sessionize(parsed, "block_id", "datetime", "value"), labels, "block_id"
                ).persist()
                sessions.count()
            with tr.span("batch.write"):
                feats.write.mode("overwrite").parquet(feat_path)
                sessions.write.mode("overwrite").parquet(sess_path)
            for df in (parsed, tagged, feats, sessions):
                df.unpersist()
        else:
            tagged = tag_events(parsed, self.templates)
            feature_counts_pivot(tagged, "block_id", "event_id", gen.EVENT_IDS) \
                .write.mode("overwrite").parquet(feat_path)
            label_sessions(sessionize(parsed, "block_id", "datetime", "value"), labels, "block_id") \
                .write.mode("overwrite").parquet(sess_path)

        with tr.span("batch.ml"):
            data = (
                spark.read.parquet(feat_path)
                .join(labels, "block_id")
                .withColumn("label_index", (F.col("label") == "Anomaly").cast("double"))
            )
            data = VectorAssembler(inputCols=gen.EVENT_IDS, outputCol="features").transform(data)
            train, test = stratified_split(data, "label_index", "block_id", 0.2, self.ctx.seed)
            model = train_weighted_lr(balanced_class_weights(train))
            evaluate_binary(model.transform(test))
        return info

    def _check(self, out: str) -> str | None:
        """Features and sessions on disk equal the planted truth exactly."""
        if self.templates != gen.TEMPLATES:
            return "load_templates did not return the template table in file order"
        blocks = self.corpus.blocks
        feats = read_rows(os.path.join(out, "features"))
        got = {r["block_id"]: {e: r[e] for e in gen.EVENT_IDS} for r in feats}
        if set(got) != set(blocks):
            return f"features: {len(got)} blocks, planted {len(blocks)}"
        for k, b in blocks.items():
            want = {e: b.counts.get(e, 0) for e in gen.EVENT_IDS}
            if got[k] != want:
                return f"features of {k}: {got[k]} != {want}"
        sess = read_rows(os.path.join(out, "sessions"))
        if len(sess) != len(blocks) or {r["block_id"] for r in sess} != set(blocks):
            return f"sessions: {len(sess)} rows, planted {len(blocks)} blocks"
        for r in sess:
            b = blocks[r["block_id"]]
            want = (_naive(b.start), _naive(b.end), int((b.end - b.start).total_seconds()),
                    len(b.lines), "Anomaly" if b.anomaly else "Normal",
                    "\n".join(s for _, s in sorted(b.lines)))
            got_row = (_naive(r["start_ts"]), _naive(r["end_ts"]), r["duration_sec"],
                       r["num_lines"], r["label"], r["log_full"])
            if got_row != want:
                return f"session of {b.block_id}: {got_row[:5]} != {want[:5]}"
        return None

    def run(self, seconds: float) -> RunResult:
        out = self.ctx.dir("out")
        self.first_span = len(self.tr.spans)
        times, attempted, failed = [], 0, 0
        while not times or sum(times) < seconds:
            attempted += 1
            t0 = time.perf_counter()
            try:
                info = self._pass(self.corpus, out, traced=self.tr.enabled)
            except Exception:
                traceback.print_exc()
                info = None
            times.append(time.perf_counter() - t0)
            err = "pass raised" if info is None else self._check(out)
            if err:
                print(f"log_batch check failed: {err}", file=sys.stderr)
                failed += 1
            else:
                self.passes.append(info)
        n_lines = self.corpus.n_lines
        return RunResult(attempted, failed, {
            "throughput_per_s": (n_lines * len(times) / sum(times), "1/s"),
            "op_p50_ms": (median(times) * 1000, "ms"),
        })

    def layer_metrics(self, stats) -> dict:
        spans = self.tr.spans[self.first_span:]
        by = {name: [s for s in spans if s.name == name] for name in LAYER_SPANS}
        passes = [[by[name][i] for name in LAYER_SPANS]
                  for i in range(min(len(v) for v in by.values()))]
        totals = [sum_stats(stats, [s.group for s in p]) for p in passes]

        def secs(name):
            return (median(s.seconds for s in by[name]), "s")

        return {
            "batch.parse_s": secs("batch.parse"),
            "batch.tag_s": secs("batch.tag"),
            "batch.tag_match_ratio": (median(p["matched"] / p["tagged"] for p in self.passes), "ratio"),
            "batch.features_s": secs("batch.features"),
            "batch.sessions_s": secs("batch.sessions"),
            "batch.write_s": secs("batch.write"),
            "batch.ml_s": secs("batch.ml"),
            "batch.ml_jobs": (median(s.jobs for s in by["batch.ml"]), "count"),
            "batch.jobs": (median(sum(s.jobs for s in p) for p in passes), "count"),
            "batch.scan_tasks": (median(stats[s.group].input_tasks for s in by["batch.parse"]
                                        if s.group in stats), "count"),
            "batch.executor_cpu_s": (median(t.cpu_s for t in totals), "s"),
            "batch.shuffle_bytes": (median(t.shuffle_bytes for t in totals), "B"),
            "batch.gc_s": (median(t.gc_s for t in totals), "s"),
        }


def _naive(t):
    if isinstance(t, dt.datetime) and t.tzinfo is not None:
        return t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t
