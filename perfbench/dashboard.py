"""`dashboard`: the API read path, as a closed loop with one client.

Each refresh issues the dashboard's five panel calls on a pool of 4
threads through ``create_flask_app(...).test_client()`` and ends when
all five have answered; then one ``latest_info`` lookup follows.
About 5% of refreshes send an invalid period or an unknown category.
Every response is compared afterwards with DuckDB over the same
parquet.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from urllib.parse import quote, unquote

import datagen
from common import Checks, geomean, metric, pct

SF = 0.1  # 1500 users, 100k events
THREADS = 4
INVALID_SHARE = 0.05
# the JVM keeps getting faster for a minute: the refresh time falls by
# about half over the first 16 refreshes and then stays level, so those
# are set-up and the window measures the level part
WARMUP_REFRESHES = 16
LOOKUP_IDS = 1600  # ids >= 1500 have no events and must 404

ROUTES = {
    "global_recent": "/api/v1/customers/global_recent?limit=5",
    "geo_distribution": "/api/v1/customers/geo_distribution_hourly_by_country/{}",
    "new_count": "/api/v1/products/new_count?period={}",
    "recent_by_category": "/api/v1/products/recent_by_category/{}",
    "status": "/api/v1/status",
    "latest_info": "/api/v1/customers/latest_info/{}",
}


class Dashboard:
    trace_extra = [
        ("queries", n, f"queries.{n}")
        for n in ("geo_hourly_counts", "new_count_multi_granularity", "recent_by_category")
    ] + [("api", "_iso_rows", "api._iso_rows")]
    trace_capture = {"api._iso_rows"}

    def __init__(self, spark, scratch: str, seed: int) -> None:
        from real_time_data_analytics_cassandra_spark.api import create_flask_app

        self.spark = spark
        self.rng = random.Random(seed)
        self.sf_dir = datagen.write(
            os.path.join(scratch, "data"), seed, SF,
            ("region", "nation", "customer", "events"),
        )
        self.app = create_flask_app(spark, self.sf_dir)
        self.pool = ThreadPoolExecutor(THREADS)
        for _ in range(WARMUP_REFRESHES):
            self.refresh()

    def close(self) -> None:
        self.pool.shutdown(wait=True)

    # ------------------------------------------------------------ load
    def _panels(self) -> list[tuple[str, str]]:
        rng = self.rng
        period = rng.choice(["hourly", "daily", "5min"])
        category = rng.choice(datagen.EVENT_TYPES)
        if rng.random() < INVALID_SHARE:
            if rng.random() < 0.5:
                period = "weekly"
            else:
                category = "refund"
        return [
            ("global_recent", ROUTES["global_recent"]),
            ("geo_distribution", ROUTES["geo_distribution"].format(quote(rng.choice(datagen.REGIONS)))),
            ("new_count", ROUTES["new_count"].format(period)),
            ("recent_by_category", ROUTES["recent_by_category"].format(category)),
            ("status", ROUTES["status"]),
        ]

    def _get(self, route: str, path: str, tracer, ident: str):
        t0 = time.perf_counter()
        with tracer.span(f"route.{route}", root=ident) if tracer else nullcontext():
            try:
                resp = self.app.test_client().get(path)
                out = (resp.status_code, resp.get_json())
            except Exception as exc:  # counted as a failed request
                out = (599, repr(exc))
        return route, path, out, time.perf_counter() - t0

    def refresh(self, tracer=None, n: int = 0):
        panels = self._panels()
        lookup = self.rng.randrange(LOOKUP_IDS)
        t0 = time.perf_counter()
        futs = [
            self.pool.submit(self._get, r, p, tracer, f"r{n}.{i}")
            for i, (r, p) in enumerate(panels)
        ]
        done = [f.result() for f in futs]
        refresh_s = time.perf_counter() - t0
        done.append(self._get(
            "latest_info", ROUTES["latest_info"].format(lookup), tracer, f"r{n}.5"
        ))
        return refresh_s, done

    def measure(self, seconds: float, tracer=None) -> dict:
        """With a tracer, every other refresh is traced."""
        refreshes, requests, responses = [], [], []
        t0 = time.perf_counter()
        n = 0
        while time.perf_counter() - t0 < seconds:
            traced = tracer is not None and n % 2 == 0
            refresh_s, done = self.refresh(tracer=tracer if traced else None, n=n)
            refreshes.append((refresh_s, traced))
            requests.extend((route, dt, traced) for route, _, _, dt in done)
            responses.extend((route, path, out) for route, path, out, _ in done)
            n += 1
        wall = time.perf_counter() - t0
        return {
            "refresh_s": refreshes, "requests": requests,
            "responses": responses, "wall_s": wall,
        }

    @staticmethod
    def subset(m: dict, traced: bool) -> dict:
        return dict(
            m,
            refresh_s=[r for r in m["refresh_s"] if r[1] == traced],
            requests=[r for r in m["requests"] if r[2] == traced],
        )

    # ----------------------------------------------------------- check
    def check(self, checks: Checks, m: dict) -> None:
        """One check per request: status and body, exactly."""
        oracle = Oracle(self.sf_dir, self.spark.version)
        for route, path, got in m["responses"]:
            want = oracle.expect(route, path)
            checks.record(path, None if got == want else f"got {got!r} want {want!r}")
        oracle.close()

    @staticmethod
    def end_to_end(m: dict) -> dict:
        req = [dt * 1e3 for _, dt, _ in m["requests"]]
        by_route = defaultdict(list)
        for route, dt, _ in m["requests"]:
            by_route[route].append(dt * 1e3)
        # the six routes take from ~0.2 s to ~1 s; a median over all
        # requests falls in the gap between two of them and jumps
        return {
            "latency_p50_ms": metric(
                geomean(statistics.median(v) for v in by_route.values()), "ms"
            ),
            "latency_p90_ms": metric(pct(req, 0.9), "ms"),
            "cycle_p50_ms": metric(statistics.median(r for r, _ in m["refresh_s"]) * 1e3, "ms"),
            "throughput_per_s": metric(len(req) / m["wall_s"], "1/s"),
        }

    def layers(self, m: dict, tracer, stats) -> dict:
        from tracer import catalyst_ms, covered_seconds, spark_layers

        roots = tracer.roots("route.")
        out = tracer.layer_summary(len(roots))
        out.update(spark_layers(stats, [s["root"] for s in roots], len(roots)))
        by_route = defaultdict(list)
        driver = []
        for s in roots:
            jobs = stats.jobs_for(s["root"])
            by_route[s["name"][len("route."):]].append((s["end"] - s["start"], len(jobs)))
            t0, t1 = s["start"] + tracer.epoch_offset, s["end"] + tracer.epoch_offset
            in_jobs = covered_seconds(
                (max(a, t0), min(b, t1)) for a, b in stats.job_spans(jobs)
            )
            driver.append((t1 - t0) - in_jobs)
        for route, xs in by_route.items():
            out[f"api.{route}.p50_ms"] = statistics.median(d for d, _ in xs) * 1e3
            out[f"api.{route}.jobs"] = statistics.median(j for _, j in xs)
        out["api.driver_ms_per_op"] = statistics.fmean(driver) * 1e3
        out["api.refresh_p90_ms"] = pct([r for r, _ in m["refresh_s"]], 0.9) * 1e3
        # Catalyst phases of the result frames the routes serialize
        phases = catalyst_ms(stats, [df for _, df in tracer.frames])
        for k in ("analysis", "optimization", "planning"):
            out[f"catalyst.{k}_ms_per_op"] = phases[k] / max(len(roots), 1)
        return out


class Oracle:
    """Expected (status, JSON body) of every route, from DuckDB over
    the same parquet files, shaped the way the API documents it."""

    def __init__(self, sf_dir: str, spark_version: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "events"):
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.spark_version = spark_version
        self.cache: dict[str, tuple[int, object]] = {}

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def expect(self, route: str, path: str):
        if path not in self.cache:
            self.cache[path] = getattr(self, route)(unquote(path.rsplit("/", 1)[-1]))
        return self.cache[path]

    _EVENT_COLS = (
        "event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts, user_id, "
        "event_type, value, props"
    )

    def global_recent(self, _arg):
        return 200, self._rows(
            f"SELECT {self._EVENT_COLS} FROM events WHERE event_type = 'signup' "
            "ORDER BY events.ts DESC, event_id LIMIT 5"
        )

    def latest_info(self, arg):
        rows = self._rows(
            f"SELECT {self._EVENT_COLS} FROM events WHERE user_id = {int(arg)} "
            "ORDER BY events.ts DESC, event_id DESC LIMIT 1"
        )
        return (200, rows[0]) if rows else (404, {"error": "not found"})

    def geo_distribution(self, country):
        hb = self._rows("SELECT strftime(max(ts), '%Y%m%d%H') AS hb FROM events")[0]["hb"]
        cities = self._rows(
            "SELECT strftime(e.ts, '%Y%m%d%H') AS hour_bucket, "
            "coalesce(r.r_name, 'Unknown') AS country_region_name, "
            "coalesce(n.n_name, 'Unknown') AS city, count(*) AS new_customers_count "
            "FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey "
            "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey "
            f"WHERE e.event_type = 'signup' AND strftime(e.ts, '%Y%m%d%H') = '{hb}' "
            f"AND coalesce(r.r_name, 'Unknown') = '{country}' "
            "GROUP BY 1, 2, 3 ORDER BY city"
        )
        return 200, {
            "country": country,
            "hour_bucket": hb,
            "cities": cities,
            "total_new_customers": sum(c["new_customers_count"] for c in cities),
        }

    def new_count(self, arg):
        period = arg.split("=", 1)[1]
        if period not in ("hourly", "daily", "5min"):
            return 400, {"error": "period must be one of ('hourly', 'daily', '5min')"}
        fmt = {
            "hourly": "'hourly:' || strftime(ts, '%Y%m%d%H')",
            "daily": "'daily:' || strftime(ts, '%Y%m%d')",
            "5min": "'5min:' || strftime(ts, '%Y%m%d%H') || "
            "lpad(CAST((minute(ts) // 5) * 5 AS VARCHAR), 2, '0')",
        }[period]
        rows = self._rows(
            f"SELECT {fmt} AS b, count(*) AS n FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1 DESC LIMIT 1"
        )
        return 200, {
            "period": period,
            "time_bucket": rows[0]["b"] if rows else None,
            "count": rows[0]["n"] if rows else 0,
        }

    def recent_by_category(self, category):
        items = self._rows(
            "SELECT event_type, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS addition_timestamp, "
            "event_id, user_id, value, rn FROM (SELECT e.*, row_number() OVER "
            "(PARTITION BY event_type ORDER BY ts DESC, event_id) AS rn FROM events e) "
            f"WHERE rn <= 10 AND event_type = '{category}' ORDER BY rn"
        )
        if not items:
            return 404, {"error": f"unknown category: {category}"}
        return 200, {"category": category, "items": items}

    def status(self, _arg):
        return 200, {"status": "ok", "engine": "spark", "spark_version": self.spark_version}
