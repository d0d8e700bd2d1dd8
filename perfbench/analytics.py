"""`analytics`: a cross-family slice of the query registry, as a closed
loop with one client.

Each pass forces every query of SLICE through the noop sink, in an
order shuffled from the seed.  Set-up builds every input and /tmp
fixture and runs one discarded warm-up pass whose collected results
are checked against each query's ``oracle_sql()`` entry under the
tests' exact compare protocol.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import datagen
from common import Checks, frame_mismatch, geomean, metric, pct

SF = 0.001
WARMUP_THREADS = 4
# one cheap query per operator family; each has a DuckDB oracle
SLICE = (
    "dedup_fingerprint",  # dedup
    "knn_bruteforce",  # similarity
    "lang_id",  # text
    "bpe_encode_docs",  # bpe
    "part_copurchase_kcore",  # graph, over the co-purchase pairs fixture
    "multimodal_decode_meta",  # multimodal, Python workers (mapInPandas)
    "kmv_distinct_per_type",  # sketches
    "mannwhitney_purchase_values",  # sampling and ranks
    "domain_crawl_stats",  # urls
    "amqp_replay_type_counts",  # sources.amqp_dump, a Python DataSource
)


class Analytics:
    trace_extra = [("queries", n, f"queries.{n}") for n in SLICE]

    def __init__(self, spark, scratch: str, seed: int) -> None:
        from real_time_data_analytics_cassandra_spark import queries as qm

        self.qm = qm
        self.spark = spark
        self.rng = random.Random(seed)
        self.sf_dir = datagen.write(os.path.join(scratch, "data"), seed, SF)
        # warm-up pass, four queries at a time: builds every fixture and
        # compiles the hot code while the cold driver leaves cores idle;
        # its results are kept only for the oracle check
        self.oracle_checked = False
        registry = qm.queries()
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            self.results = dict(zip(SLICE, pool.map(
                lambda name: registry[name](spark, self.sf_dir).toPandas(), SLICE
            )))

    def close(self) -> None:
        pass

    def _order(self) -> list[str]:
        names = list(SLICE)
        self.rng.shuffle(names)
        return names

    def measure(self, seconds: float, tracer=None) -> dict:
        """Queries run one after the other, pass after pass, until the
        window is over and every query has run; with a tracer, until
        every query has run twice.  With a tracer, every other query of
        a pass is traced, and each query alternates between traced and
        untraced passes."""
        runs, errors, dfs = [], [], []
        need = 1 if tracer is None else 2
        counts = dict.fromkeys(SLICE, 0)
        queue, n_pass = [], -1
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or min(counts.values()) < need:
            if not queue:
                queue, n_pass = self._order(), n_pass + 1
                registry = self.qm.queries()
            name = queue.pop(0)
            counts[name] += 1
            traced = tracer is not None and (SLICE.index(name) + n_pass) % 2 == 0
            q0 = time.perf_counter()
            ident = f"p{n_pass}.{name}"
            try:
                with tracer.span(f"root.query.{name}", root=ident) if traced else nullcontext():
                    df = registry[name](self.spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                errors.append(f"{ident}: {exc!r}"[:300])
                continue
            runs.append((name, time.perf_counter() - q0, traced))
            if traced:
                dfs.append(df)
        return {"runs": runs, "errors": errors, "dfs": dfs}

    @staticmethod
    def subset(m: dict, traced: bool) -> dict:
        """The runs of queries that ran both traced and untraced,
        keeping those with the given flag."""
        both = {q for q, _, t in m["runs"] if t} & {q for q, _, t in m["runs"] if not t}
        return dict(m, runs=[r for r in m["runs"] if r[0] in both and r[2] == traced])

    @staticmethod
    def end_to_end(m: dict) -> dict:
        times = defaultdict(list)
        for name, t, _ in m["runs"]:
            times[name].append(t * 1e3)
        medians = [statistics.median(v) for v in times.values()]
        # the window holds only one or two runs of each query, and a
        # percentile over all runs would jump between the slowest
        # queries; so every figure is taken over per-query medians.  A
        # pass is their sum, and throughput is queries per second of
        # such a pass: the queries run after the first pass are a
        # seed-dependent mix of heavy and light ones
        return {
            "latency_p50_ms": metric(geomean(medians), "ms"),
            "latency_p90_ms": metric(pct(medians, 0.9), "ms"),
            "cycle_p50_ms": metric(sum(medians), "ms"),
            "throughput_per_s": metric(len(medians) / sum(medians) * 1e3, "1/s"),
        }

    def check(self, checks: Checks, m: dict) -> None:
        """One check per query run (it must not raise) and one per
        query result against its oracle."""
        import duckdb

        for _ in m["runs"]:
            checks.record("query run", None)
        for e in m["errors"]:
            checks.record("query run", e)
        if self.oracle_checked:  # the warm-up results, once per run
            return
        self.oracle_checked = True
        con = duckdb.connect()
        for t in datagen.ALL_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        oracles = self.qm.oracle_sql()
        for name in SLICE:
            want = con.sql(oracles[name]).df()
            checks.record(f"oracle {name}", frame_mismatch(self.results[name], want))
        con.close()

    def layers(self, m: dict, tracer, stats) -> dict:
        from tracer import catalyst_ms, spark_layers

        roots = tracer.roots("root.query.")
        out = tracer.layer_summary(len(roots))
        out.update(spark_layers(stats, [s["root"] for s in roots], len(roots)))
        by_query = defaultdict(list)
        for s in roots:
            by_query[s["name"][len("root.query."):]].append(len(stats.jobs_for(s["root"])))
        for name in SLICE:
            times = [t for q, t, _ in m["runs"] if q == name] or [0.0]
            out[f"query.{name}.s"] = statistics.median(times)
            out[f"query.{name}.jobs"] = statistics.median(by_query.get(name, [0]))
        phases = catalyst_ms(stats, m["dfs"])
        for k in ("analysis", "optimization", "planning"):
            out[f"catalyst.{k}_ms_per_op"] = phases[k] / max(len(roots), 1)
        assert all(math.isfinite(v) for v in out.values())
        return out
