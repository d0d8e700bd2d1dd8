"""`ingest`: the streaming write path, as an open loop.

The benchmark's main thread writes FILES_PER_S JSON-lines files per
second into a landing directory (RATE events per second,
`EVENT_JSON_SCHEMA` / `EVENT_JSON_OPTIONS` format) whether or not the
stream keeps up.  The
events carry Zipf-skewed user ids, the testdata's type mix, a seeded
share of out-of-order timestamps (inside the watermark) and a seeded
share of redelivered duplicate event ids.  A Structured Streaming text
source feeds ``parse_event_json`` -> ``dedup_events`` -> one
``foreachBatch`` that folds each micro-batch into the reference's four
tables with the ``sinks.merge`` functions.

Freshness of an event is the time from its file's due time to the end
of the ``foreachBatch`` that committed it to all four tables.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

import datagen
from common import Checks, metric, pct

RATE = 1000  # events per second
# several files per second: every event of a file shares its due time,
# so with one file per second a window's freshness median is one of
# only ~10 values and jumps from run to run
FILES_PER_S = 4
PER_FILE = RATE // FILES_PER_S
USERS = 1600
WARMUP_FILES = 8 * FILES_PER_S  # set-up: the first, slowest batches
UPSERT_BUCKETS = 8
TOP_N = 10
HISTORY_FILES = 10 * FILES_PER_S  # duplicates redeliver events from ~10 s back
MAX_DISORDER_S = 300  # out-of-order shift, well inside the 1 h watermark


class EventSource:
    """Deterministic per seed: file i always holds the same lines."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng([seed, 1000])
        self.seed = seed
        self.dup_share = float(rng.uniform(0.02, 0.05))
        self.ooo_share = float(rng.uniform(0.05, 0.15))
        skew = float(rng.uniform(1.0, 1.3))
        p = 1.0 / np.arange(1, USERS + 1) ** skew
        self.user_p = p / p.sum()
        self.user_perm = rng.permutation(USERS)
        self.base_us = datagen.EVENTS_EPOCH_US + int(rng.integers(0, 300)) * datagen.DAY_US
        self.history: list[list[tuple]] = []
        self.events: dict[int, tuple] = {}  # event_id -> row (first delivery)
        self.unique_per_file: list[int] = []
        self.dups = 0

    def next_file(self, i: int) -> list[str]:
        assert i == len(self.unique_per_file), "files are generated in order"
        rng = np.random.default_rng([self.seed, i])
        n_dup = int(rng.binomial(PER_FILE, self.dup_share)) if self.history else 0
        n_new = PER_FILE - n_dup
        ids = i * PER_FILE + np.arange(n_new)
        step = 10**6 // FILES_PER_S
        ts = self.base_us + i * step + rng.integers(0, step, n_new)
        late = rng.random(n_new) < self.ooo_share
        ts = ts - late * rng.integers(10**6, MAX_DISORDER_S * 10**6, n_new)
        users = self.user_perm[rng.choice(USERS, n_new, p=self.user_p)]
        types = rng.choice(datagen.EVENT_TYPES, n_new)
        values = np.round(rng.exponential(50.0, n_new), 2)
        rows = [
            (int(e), int(t), int(u), str(ty), float(v))
            for e, t, u, ty, v in zip(ids, ts, users, types, values)
        ]
        for r in rows:
            self.events[r[0]] = r
        dups = []
        for _ in range(n_dup):
            past = self.history[int(rng.integers(0, len(self.history)))]
            dups.append(past[int(rng.integers(0, len(past)))])
        self.dups += n_dup
        self.history = (self.history + [rows])[-HISTORY_FILES:]
        self.unique_per_file.append(n_new)
        out = rows + dups
        order = rng.permutation(len(out))
        return [to_json(out[k]) for k in order]


def to_json(r: tuple) -> str:
    e, t, u, ty, v = r
    secs, micros = divmod(t, 10**6)
    stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{micros:06d}Z"
    return json.dumps({
        "event_id": e, "ts": stamp, "user_id": u, "event_type": ty,
        "value": v, "props": json.dumps({"k": e % 100}),
    })


def hour_of(t_us: int) -> str:
    return time.strftime("%Y%m%d%H", time.gmtime(t_us // 10**6))


class Ingest:
    trace_extra = ()

    def __init__(self, spark, scratch: str, seed: int) -> None:
        from pyspark.sql import functions as F

        from real_time_data_analytics_cassandra_spark.sources import streams
        from real_time_data_analytics_cassandra_spark.streaming import pipelines

        self.F = F
        self.spark = spark
        self.source = EventSource(seed)
        base = os.path.join(scratch, "ingest")
        self.landing = os.path.join(base, "landing")
        self.staging = os.path.join(base, "staging")
        self.ckpt = os.path.join(base, "checkpoint")
        self.paths = {
            k: os.path.join(base, "sinks", k)
            for k in ("latest", "recent_signups", "recent_by_type", "hourly_counts")
        }
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.n_files = 0
        self.due: dict[int, float] = {}
        self.lag: dict[int, float] = {}
        self.batches: list[dict] = []
        self.progress: dict[int, dict] = {}
        self.tracer = None
        self.error: BaseException | None = None

        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        self._listener = _Progress(self.progress)
        spark.streams.addListener(self._listener)
        raw = spark.readStream.text(self.landing).select(F.col("value").alias("raw_json"))
        events = pipelines.dedup_events(streams.parse_event_json(raw))
        self.query = (
            events.writeStream.foreachBatch(self._fold)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        self._window(WARMUP_FILES)

    def close(self) -> None:
        try:
            self.query.stop()
        finally:
            self.spark.streams.removeListener(self._listener)

    # ------------------------------------------------------- batch fold
    def _fold(self, batch, batch_id: int) -> None:
        from real_time_data_analytics_cassandra_spark.sinks import merge

        F, spark = self.F, batch.sparkSession
        t0 = time.perf_counter()
        # with a tracer, every other batch is traced
        tr = self.tracer if batch_id % 2 == 0 else None
        try:
            with tr.span("root.batch", root=f"b{batch_id}") if tr else nullcontext():
                batch.persist()
                try:
                    merge.merge_upsert(
                        spark,
                        batch.withColumn("ubucket", F.col("user_id") % UPSERT_BUCKETS),
                        self.paths["latest"], ["user_id"], "ts", "ubucket", ["event_id"],
                    )
                    merge.merge_topn(
                        spark, batch.filter(F.col("event_type") == "signup"),
                        self.paths["recent_signups"], "ts", TOP_N, ["event_id"],
                    )
                    merge.merge_topk_per_group(
                        spark, batch, self.paths["recent_by_type"],
                        ["event_type"], "ts", TOP_N, ["event_id"],
                    )
                    deltas = batch.groupBy(
                        F.date_format("ts", "yyyyMMddHH").alias("hour"), "event_type"
                    ).agg(F.count(F.lit(1)).alias("cnt"))
                    merge.merge_add(
                        spark, deltas, self.paths["hourly_counts"],
                        ["event_type"], "cnt", "hour", batch_id=batch_id,
                    )
                finally:
                    batch.unpersist()
        except BaseException as exc:
            self.error = exc
            raise
        self.batches.append({
            "id": batch_id, "start": t0, "end": time.perf_counter(), "traced": tr is not None,
        })

    # ------------------------------------------------------------ load
    def _window(self, n: int) -> tuple[int, int]:
        """Write n files on schedule, then wait until all committed."""
        first = self.n_files
        t0 = time.perf_counter() + 0.05
        for k in range(n):
            i = first + k
            lines = self.source.next_file(i)
            due = t0 + k / FILES_PER_S
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(self.staging, f"f{i:06d}.json")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(self.landing, f"f{i:06d}.json"))
            self.due[i] = due
            self.lag[i] = time.perf_counter() - due
            self.n_files = i + 1
            if self.error is not None:
                break
        self.query.processAllAvailable()
        if self.error is not None:
            raise RuntimeError("a micro-batch failed") from self.error
        return first, self.n_files

    def _file_batches(self) -> dict[int, int]:
        """File index -> the batch that read it, from the file source's
        metadata log in the checkpoint."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        name = os.path.basename(entry["path"])
                        out[int(name[1:7])] = entry["batchId"]
        return out

    def measure(self, seconds: float, tracer=None) -> dict:
        self.tracer = tracer
        n_before = len(self.batches)
        try:
            first, last = self._window(max(1, int(round(seconds * FILES_PER_S))))
        finally:
            self.tracer = None
        ends = {b["id"]: b["end"] for b in self.batches}
        file_batch = self._file_batches()
        # (freshness, unique events, batch) per file of the window
        fresh = [
            (ends[file_batch[i]] - self.due[i], self.source.unique_per_file[i], file_batch[i])
            for i in range(first, last)
        ]
        window_batches = {b for _, _, b in fresh}
        span = max(ends[b] for b in window_batches) - self.due[first]
        return {
            "freshness_s": fresh,
            "batches": [b for b in self.batches[n_before:] if b["id"] in window_batches],
            "events_per_s": sum(k for _, k, _ in fresh) / span,
            "files": (first, last),
            "file_batch": file_batch,
        }

    @staticmethod
    def subset(m: dict, traced: bool) -> dict:
        batches = [b for b in m["batches"] if b["traced"] == traced]
        ids = {b["id"] for b in batches}
        return dict(m, batches=batches, freshness_s=[f for f in m["freshness_s"] if f[2] in ids])

    @staticmethod
    def end_to_end(m: dict) -> dict:
        per_event = [f * 1e3 for f, k, _ in m["freshness_s"] for _ in range(k)]
        batch_ms = [(b["end"] - b["start"]) * 1e3 for b in m["batches"]]
        return {
            "latency_p50_ms": metric(statistics.median(per_event), "ms"),
            "latency_p90_ms": metric(pct(per_event, 0.9), "ms"),
            "cycle_p50_ms": metric(statistics.median(batch_ms), "ms"),
            "throughput_per_s": metric(m["events_per_s"], "1/s"),
        }

    # ----------------------------------------------------------- check
    def check(self, checks: Checks, m: dict) -> None:
        for b in m["batches"]:
            checks.record(f"batch {b['id']}", None)
        expected = self._expected()
        for name, want in expected.items():
            got = self._read(name)
            checks.record(f"sink {name}", None if got == want else (
                f"{len(got)} rows, {len(want)} expected; first diff "
                f"{next((x for x in got if x not in want), None)!r}"
            ))
        # progress events arrive asynchronously after the batch ends
        last = max((b["id"] for b in m["batches"]), default=None)
        deadline = time.perf_counter() + 10
        while last is not None and last not in self.progress and time.perf_counter() < deadline:
            time.sleep(0.1)
        dropped = sum(p["dropped"] for p in self.progress.values())
        checks.record("dedup drops", None if dropped == self.source.dups else (
            f"dropped {dropped}, injected {self.source.dups}"
        ))

    def _expected(self) -> dict[str, list]:
        ev = list(self.source.events.values())
        latest = {}
        for r in ev:
            k = r[2]
            if k not in latest or (r[1], r[0]) > (latest[k][1], latest[k][0]):
                latest[k] = r
        newest = sorted(ev, key=lambda r: (-r[1], r[0]))
        signups = [r for r in newest if r[3] == "signup"][:TOP_N]
        per_type: dict[str, list] = defaultdict(list)
        for r in newest:
            if len(per_type[r[3]]) < TOP_N:
                per_type[r[3]].append(r)
        counts: dict[tuple, int] = defaultdict(int)
        for r in ev:
            counts[(hour_of(r[1]), r[3])] += 1
        return {
            "latest": sorted(latest.values()),
            "recent_signups": sorted(signups),
            "recent_by_type": sorted(r for rows in per_type.values() for r in rows),
            "hourly_counts": sorted((h, t, n) for (h, t), n in counts.items()),
        }

    def _read(self, name: str) -> list:
        F = self.F
        df = self.spark.read.parquet(self.paths[name])
        if name == "hourly_counts":
            rows = df.select(F.col("hour").cast("string"), "event_type", "cnt").collect()
            return sorted((r[0], r[1], int(r[2])) for r in rows)
        rows = df.select(
            "event_id", F.unix_micros("ts"), "user_id", "event_type", "value"
        ).collect()
        return sorted(tuple(r) for r in rows)

    # ----------------------------------------------------------- layers
    def layers(self, m: dict, tracer, stats) -> dict:
        from tracer import spark_layers

        batches = m["batches"]
        ids = [b["id"] for b in batches]
        roots = tracer.roots("root.batch")
        out = tracer.layer_summary(len(roots))
        out.update(spark_layers(stats, [s["root"] for s in roots], len(roots)))
        prog = [self.progress[i] for i in ids if i in self.progress]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out.update({
            "stream.batches": float(len(batches)),
            "stream.rows_per_batch": med([p["rows"] for p in prog]),
            "stream.batch_ms": med([(b["end"] - b["start"]) * 1e3 for b in batches]),
            "stream.trigger.latest_offset_ms": med([p["latestOffset"] for p in prog]),
            "stream.trigger.query_planning_ms": med([p["queryPlanning"] for p in prog]),
            "stream.trigger.wal_commit_ms": med([p["walCommit"] for p in prog]),
            "stream.state.rows": float(prog[-1]["state_rows"]) if prog else 0.0,
            "stream.state.memory_bytes": float(prog[-1]["state_bytes"]) if prog else 0.0,
            "stream.dedup.dropped_ratio": (
                sum(p["dropped"] for p in self.progress.values()) / max(self.source.dups, 1)
            ),
            "ingest.generator_lag_ms.max": max(self.lag[i] for i in range(*m["files"])) * 1e3,
        })
        # files already landed but not yet read when each batch started
        first, last = m["files"]
        backlog = []
        for b in batches:
            done = {i for i, bid in m["file_batch"].items() if bid < b["id"]}
            landed = [i for i in range(first, last) if self.due[i] + self.lag[i] <= b["start"]]
            backlog.append(sum(1 for i in landed if i not in done))
        out["stream.backlog_files.max"] = float(max(backlog, default=0))
        # each merge: its time and the jobs submitted inside it
        spans = defaultdict(list)
        for s in tracer.spans:
            if s["name"].startswith("sinks."):
                spans[s["name"]].append(s)
        job_ids = [j for s in roots for j in stats.jobs_for(s["root"])]
        submitted = [a - tracer.epoch_offset for a, _ in stats.job_spans(job_ids)]
        for name in ("merge_upsert", "merge_add", "merge_topn", "merge_topk_per_group"):
            xs = spans.get(f"sinks.{name}", [])
            out[f"sinks.{name}.ms"] = med([(s["end"] - s["start"]) * 1e3 for s in xs])
            out[f"sinks.{name}.jobs"] = med([
                sum(1 for j in submitted if s["start"] <= j <= s["end"]) for s in xs
            ])
        out["sinks.bytes_written_per_batch"] = (
            stats.stage_totals(job_ids)["output_bytes"] / max(len(roots), 1)
        )
        t_start = self.due[first] + tracer.epoch_offset
        files = [
            f for p in self.paths.values()
            for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        ]
        out["sinks.files_written_per_batch"] = sum(
            1 for f in files if os.path.getmtime(f) >= t_start
        ) / max(len(batches), 1)
        out["sinks.table_bytes"] = float(sum(os.path.getsize(f) for f in files))
        return out


class _Progress(StreamingQueryListener):
    """Keeps what each batch reported, by batch id."""

    def __init__(self, sink: dict) -> None:
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = p.durationMs
        state = p.stateOperators[0] if p.stateOperators else None
        metrics = state.customMetrics if state is not None else {}
        self.sink[p.batchId] = {
            "rows": p.numInputRows,
            "latestOffset": dur.get("latestOffset", 0),
            "queryPlanning": dur.get("queryPlanning", 0),
            "walCommit": dur.get("walCommit", 0),
            "state_rows": state.numRowsTotal if state is not None else 0,
            "state_bytes": state.memoryUsedBytes if state is not None else 0,
            "dropped": metrics.get("numDroppedDuplicateRows", 0),
        }

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
