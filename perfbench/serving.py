"""The dashboard: one closed-loop client of ``ServingAPI``.

It serves the detections table ``stream_upsert`` writes. Set-up primes
that table with generated detections rows, written through the stream
job's ``upsert_sink``, so the table the stream merges into and the
dashboard reads has the program's on-disk layout and a size at which
predicate selectivity means something. A poll cycles latest(100),
latest(prefix), by_key(prediction=1), time_range, high_score and stats,
with predicates planted at ~0.1 %, ~1 % and ~10 % of the primed rows.
Each query builds a fresh ``ServingAPI`` over a fresh read of the table
directory (so it sees the files the stream added since the last poll)
and collects the result before the next query is sent.
"""

from __future__ import annotations

import time
import traceback

from log_analysis_bigdata_spark.serving import ServingAPI
from log_analysis_bigdata_spark.streaming.job import upsert_sink

from . import gen
from .spans import median, sum_stats
from .tables import parquet_files, read_rows

KINDS = ("latest", "prefix", "by_key", "time_range", "high_score", "stats")
COLUMNS = gen.DETECTION_COLUMNS


class Dashboard:
    def __init__(self, spark, tracer, table: str, plan: gen.ServingPlan) -> None:
        self.spark = spark
        self.tr = tracer
        self.table = table
        self.plan = plan
        self.lat: dict[str, list[float]] = {k: [] for k in KINDS}
        self.returned: list[int] = []

    def prime(self) -> None:
        """Write the generated rows into the table through ``upsert_sink``."""
        upsert_sink(self.table, "block_id", "ts_ms")(self.spark.read.parquet(self.plan.path), 0)

    def _query(self, q):
        kind, _, kwargs = q
        api = ServingAPI(self.spark.read.parquet(self.table), key_col="block_id",
                         ts_col="ts_ms", score_col="score")
        method = {"latest": api.latest, "prefix": api.latest, "by_key": api.by_key,
                  "time_range": api.time_range, "high_score": api.high_score,
                  "stats": api.stats}[kind]
        return method(**kwargs).collect()

    def _expected(self) -> dict:
        """Each query's answer, recomputed with pyarrow over the table files
        the program wrote."""
        rows = read_rows(self.table, COLUMNS)
        newest_first = sorted(rows, key=lambda r: (r["ts_ms"], r["block_id"]), reverse=True)
        exp = {}
        for kind, label, kw in self.plan.queries:
            if kind == "stats":
                thr = kw["high_threshold"]
                exp[label] = (len(rows), len({r["block_id"] for r in rows}),
                              sum(r["score"] for r in rows) / len(rows),
                              sum(r["score"] >= thr for r in rows))
                continue
            if kind == "latest":
                keep = newest_first
            elif kind == "prefix":
                keep = [r for r in newest_first if r["block_id"].startswith(kw["prefix"])]
            elif kind == "by_key":
                keep = [r for r in newest_first if r["prediction"] == kw["prediction"]]
            elif kind == "time_range":
                keep = [r for r in newest_first if kw["lo"] <= r["ts_ms"] <= kw["hi"]]
            else:
                keep = [r for r in newest_first if r["score"] >= kw["threshold"]]
            exp[label] = [tuple(r[c] for c in COLUMNS) for r in keep[:kw["limit"]]]
        return exp

    @staticmethod
    def _check(q, result, want) -> str | None:
        kind, label, _ = q
        if kind == "stats":
            r = result[0]
            total, distinct, avg, high = want
            # avg_score is round(avg, 4) over a float sum whose order
            # Spark does not fix: it must lie within one unit of the 4th
            # decimal of the exact mean. The counts must be exact.
            if (r["total"], r["distinct_keys"], r["high_score_count"]) != (total, distinct, high) \
                    or abs(r["avg_score"] - avg) > 1e-4 + 1e-12:
                return f"{label}: {r} != {want}"
            return None
        got = [tuple(r[c] for c in COLUMNS) for r in result]
        if got != want:
            return f"{label}: {len(got)} rows differ from the pyarrow recomputation ({len(want)} rows)"
        return None

    def warm_up(self) -> None:
        """One untimed query of each kind, to compile the query path."""
        seen: set[str] = set()
        for q in self.plan.queries:
            if q[0] not in seen:
                seen.add(q[0])
                self._query(q)

    def poll(self) -> list[str | None]:
        """One cycle over the query mix; one error (or None) per query.
        Records each query's latency and, traced, a span."""
        expected = self._expected()
        errors = []
        for q in self.plan.queries:
            t0 = time.perf_counter()
            with self.tr.span("serving.query"):
                try:
                    result = self._query(q)
                except Exception:
                    traceback.print_exc()
                    result = None
            self.lat[q[0]].append(time.perf_counter() - t0)
            self.returned.append(0 if result is None else len(result))
            errors.append("query raised" if result is None else self._check(q, result, expected[q[1]]))
        return errors

    def layer_metrics(self, stats) -> dict:
        spans = [s for s in self.tr.spans if s.name == "serving.query"]
        scanned = sum_stats(stats, [s.group for s in spans]).scan_rows
        out = {f"serving.{k}_p50_ms": (median(v) * 1000, "ms") for k, v in self.lat.items()}
        out.update({
            "serving.p95_ms": (_quantile([t for v in self.lat.values() for t in v], 0.95) * 1000, "ms"),
            "serving.jobs_per_query": (median(s.jobs for s in spans), "count"),
            "serving.table_files": (len(parquet_files(self.table)), "count"),
            "serving.rows_scanned_per_row_returned": (scanned / max(1, sum(self.returned)), "ratio"),
        })
        return out


def _quantile(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0
