"""stream_upsert: the speed layer as a closed loop, and the dashboard on
the table it writes.

``run_file_stream`` runs with ``maxFilesPerTrigger=1`` and a 0-second
processing-time trigger. The benchmark moves one generated JSON file
into the source directory and waits in ``processAllAvailable`` until that
micro-batch has committed: that is the timed operation. It checks the
table before it moves the next file, so each file is one micro-batch and
a slow batch delays the next one. After the timed batches the dashboard
(``serving.Dashboard``) polls the table once, untimed for the end-to-end
metrics.

The table starts primed with the dashboard's generated rows, written
through ``upsert_sink``, so every micro-batch merges into a table of
realistic size.

The traced run drives the same ``run_file_stream`` with the module's
``upsert_sink`` replaced by a wrapper that first forces the micro-batch
(dedup, ``message_features``, ``score_expr``) under a ``stream.features``
span, then calls the real sink under a ``stream.upsert`` span. The extra
forcing is part of the tracing overhead.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

from log_analysis_bigdata_spark.functions.templates import load_templates
from log_analysis_bigdata_spark.streaming import job

from . import gen
from .serving import COLUMNS, Dashboard
from .spans import RunResult, median, sum_stats
from .tables import read_rows

SIZES = {
    "full": {"files": 24, "msgs": 4, "primed_rows": 20_000},
    "smoke": {"files": 3, "msgs": 2, "primed_rows": 500},
}
SETUP_REPS = 3


def _progress_dict(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.size = SIZES[ctx.size]
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def setup(self) -> list[float]:
        """Generate the inputs and prime the table. The repeated set-up
        step loads the template table with ``load_templates``. Then the
        measured query starts and commits file 0, the warm-up batch, and
        the dashboard runs one untimed query of each kind."""
        s, ctx = self.size, self.ctx
        inputs = ctx.dir("inputs")
        self.plan = gen.write_stream_files(ctx.seed, inputs, s["files"], s["msgs"])
        templates_csv = gen.write_templates(inputs)
        serving_plan = gen.make_serving(ctx.seed, s["primed_rows"], inputs)
        self.primed = {r["block_id"]: r for r in serving_plan.rows}
        self.table = ctx.dir("detections")
        self.dash = Dashboard(self.spark, self.tr, self.table, serving_plan)
        self.dash.prime()
        steps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.templates = load_templates(self.spark, templates_csv)
            steps.append(time.perf_counter() - t0)

        real = job.upsert_sink
        if self.tr.enabled:
            job.upsert_sink = self._traced_sink_factory(real)
        try:
            self.src = ctx.dir("src")
            self.q = job.run_file_stream(
                self.spark, self.src, self.table, ctx.dir("checkpoint"),
                self.templates, gen.EVENT_IDS, weights=gen.STREAM_WEIGHTS, bias=gen.STREAM_BIAS,
                source_options={"maxFilesPerTrigger": "1"},
                trigger={"processingTime": "0 seconds"},
            )
        finally:
            job.upsert_sink = real
        self._feed(self.plan.files[0].path)
        self.q.processAllAvailable()
        self.dash.warm_up()
        return steps

    def _feed(self, path: str) -> None:
        """Copy under a hidden name (the file source skips it), then rename:
        the source never lists a half-written file."""
        name = os.path.basename(path)
        tmp = os.path.join(self.src, "." + name)
        shutil.copyfile(path, tmp)
        os.rename(tmp, os.path.join(self.src, name))

    def _traced_sink_factory(self, real):
        tr = self.tr

        def factory(target_dir, key_col, order_col, *args, **kw):
            sink = real(target_dir, key_col, order_col, *args, **kw)

            def traced(batch_df, epoch_id):
                with tr.span("stream.features"):
                    batch_df.write.format("noop").mode("overwrite").save()
                with tr.span("stream.upsert"):
                    sink(batch_df, epoch_id)

            return traced

        return factory

    def _check_table(self, n_files: int) -> str | None:
        """The table after ``n_files`` files holds the primed rows unchanged
        plus one row per streamed key equal to the last-write-wins truth,
        and no planted replay rewrote its key's row.

        Every row a micro-batch writes carries that batch's processing
        time in ``ts_ms``, so the rows whose last write came from file
        ``f`` must share one ``ts_ms``, later than file ``f-1``'s. A replay
        that reached the sink would move its key's row to a later batch's
        ``ts_ms``."""
        if self.templates != gen.TEMPLATES:
            return "load_templates did not return the template table in file order"
        truth = self.plan.truth_by_file[n_files - 1]
        rows = read_rows(self.table, COLUMNS)
        keys = [r["block_id"] for r in rows]
        if len(keys) != len(set(keys)):
            return f"{len(keys) - len(set(keys))} duplicate keys"
        if set(keys) != set(truth) | set(self.primed):
            return f"{len(set(keys) ^ (set(truth) | set(self.primed)))} keys differ from the truth"
        by_file: dict[int, list[int]] = {}
        for r in rows:
            if r["block_id"] in self.primed:
                if r != self.primed[r["block_id"]]:
                    return f"primed row {r['block_id']} changed"
                continue
            want, f = truth[r["block_id"]]
            got = {e: r[e] for e in gen.EVENT_IDS}
            if any(got[e] != want.get(e, 0) for e in gen.EVENT_IDS):
                return f"counts of {r['block_id']}: {got} != {want}"
            z = gen.STREAM_BIAS + sum(w * want.get(e, 0) for e, w in gen.STREAM_WEIGHTS.items())
            score = 1.0 / (1.0 + math.exp(-z))
            if abs(r["score"] - score) > 1e-9 or r["prediction"] != int(r["score"] >= gen.STREAM_THRESHOLD):
                return f"score of {r['block_id']}: {r['score']} / {r['prediction']} != {score}"
            by_file.setdefault(f, []).append(r["ts_ms"])
        for f, ts in sorted(by_file.items()):
            if len(set(ts)) != 1:
                return (f"rows last written by file {f} carry {len(set(ts))} batch times:"
                        " a replay reached the sink")
        order = [ts[0] for _, ts in sorted(by_file.items())]
        if order != sorted(set(order)):
            return "batch times do not increase with file order"
        return None

    def _replays_left_alone(self, n_files: int) -> tuple[int, int]:
        """(replays whose key's row kept its earlier batch time, replays
        checkable that way: those whose key had no later update)."""
        truth = self.plan.truth_by_file[n_files - 1]
        ts_of = {r["block_id"]: r["ts_ms"] for r in read_rows(self.table, ["block_id", "ts_ms"])}
        by_file: dict[int, list[int]] = {}
        for k, (_, f) in truth.items():
            by_file.setdefault(f, []).append(ts_of[k])
        batch_ts = {f: statistics.mode(ts) for f, ts in by_file.items()}
        checkable = [(k, truth[k][1]) for i in range(1, n_files)
                     for k in self.plan.files[i].replayed if truth[k][1] < i]
        return sum(ts_of[k] == batch_ts[f] for k, f in checkable), len(checkable)

    def run(self, seconds: float) -> RunResult:
        q, files = self.q, self.plan.files
        self.first_span = len(self.tr.spans)
        times, errors = [], []
        try:
            for i in range(1, len(files)):
                if times and sum(times) >= seconds:
                    break
                t0 = time.perf_counter()
                self._feed(files[i].path)
                try:
                    q.processAllAvailable()
                except Exception as e:  # the query died: this and every later batch fail
                    times.append(time.perf_counter() - t0)
                    errors.append(f"stream query failed: {e}")
                    break
                times.append(time.perf_counter() - t0)
                try:
                    errors.append(self._check_table(i + 1))
                except Exception as e:  # an unreadable table fails the batch
                    traceback.print_exc()
                    errors.append(f"table unreadable: {e}")
            else:
                print(f"stream_upsert: ran out of files after {sum(times):.1f}s", file=sys.stderr)
            poll_errors = self.dash.poll()
            self.progress = self._data_progress(q, len(times) + 1)
        finally:
            q.stop()
        self.times = times
        for i, p in enumerate(self.progress[1:len(times) + 1]):
            if p["numInputRows"] != files[i + 1].n_msgs:
                errors[i] = errors[i] or f"batch {i + 1}: {p['numInputRows']} rows, file has {files[i + 1].n_msgs}"
        if len(self.progress) != len(times) + 1:
            errors[-1] = errors[-1] or f"{len(self.progress)} data batches for {len(times) + 1} files"
        for e in errors + poll_errors:
            if e:
                print(f"stream_upsert check failed: {e}", file=sys.stderr)
        n_msgs = sum(f.n_msgs for f in files[1:len(times) + 1])
        return RunResult(len(errors) + len(poll_errors), sum(1 for e in errors + poll_errors if e), {
            "throughput_per_s": (n_msgs / sum(times), "1/s"),
            "op_p50_ms": (median(times) * 1000, "ms"),
        })

    @staticmethod
    def _data_progress(q, n_batches: int) -> list[dict]:
        """Progress of the micro-batches that read a file, in batch order.
        A trigger's progress is posted just after its commit, so wait for
        the last one."""
        deadline = time.monotonic() + 15
        while True:
            prog = {}
            for p in map(_progress_dict, q.recentProgress):
                if p.get("numInputRows", 0) > 0:
                    prog[p["batchId"]] = p
            if len(prog) >= n_batches or time.monotonic() > deadline:
                return [prog[b] for b in sorted(prog)]
            time.sleep(0.05)

    def layer_metrics(self, stats) -> dict:
        spans = self.tr.spans[self.first_span:]
        feats = [s for s in spans if s.name == "stream.features"]
        ups = [s for s in spans if s.name == "stream.upsert"]
        timed = self.progress[1:]
        dur = [p["durationMs"] for p in timed]
        quarter = max(1, len(self.times) // 4)
        written = sum_stats(stats, [s.group for s in ups]).records_written
        left_alone, checkable = self._replays_left_alone(len(self.times) + 1)
        last = timed[-1] if timed else {}
        return {
            "stream.add_batch_s": (median(d.get("addBatch", 0) for d in dur) / 1000, "s"),
            "stream.trigger_overhead_s": (median(d.get("triggerExecution", 0) - d.get("addBatch", 0)
                                                 for d in dur) / 1000, "s"),
            "stream.features_s": (median(s.seconds for s in feats), "s"),
            "stream.upsert_s": (median(s.seconds for s in ups), "s"),
            "stream.jobs_per_batch": (median(s.jobs for s in ups), "count"),
            "stream.upsert_write_amp": (written / max(1, sum(p["numInputRows"] for p in timed)), "ratio"),
            "stream.batch_growth": (median(self.times[-quarter:]) / median(self.times[:quarter]), "ratio"),
            "stream.dedup_state_rows": (sum(op.get("numRowsTotal", 0)
                                            for op in last.get("stateOperators", [])), "count"),
            "stream.replays_dropped_ratio": (left_alone / max(1, checkable), "ratio"),
            **self.dash.layer_metrics(stats),
        }
