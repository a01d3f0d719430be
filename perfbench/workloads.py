"""The two workloads: request mixes, set-up, and reference answers.

Every workload exposes the same surface to ``run.py``:

* ``clients`` / ``ops()`` — closed-loop reader clients and the request
  sequence they walk, generated from the seed;
* ``writer_ops()`` — the next ingest batches (dashboard only), run by one
  client after the readers' timed phase;
* ``build()`` — one repetition of the rebuildable set-up (store, rollup,
  views); returns {layer: seconds};
* ``warm()`` — warm-up before the timed phase;
* ``check(keys)`` — reference digests, computed outside the timed phase,
  for every request key that was answered;
* ``apply_pairs()`` — (with-chain, without-chain) request pairs for the
  traced run's ``apply.delta_s``;
* ``store_stats()`` / ``extra()`` — workload-specific figures.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from harness import Op, csv_rows, digest_rows, pandas_rows

NS = 10**9
HOUR_NS = 3600 * NS
DAY_NS = 86_400 * NS
#: z-store layout: 90-day time buckets, two files per (metric, bucket)
BUCKET_NS = 90 * DAY_NS
FILES_PER_PARTITION = 2
INGEST_BATCH = 20_000


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class _Base:
    clients = 1
    #: repetitions of the rebuildable set-up; the median is reported
    setup_reps = 3

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int,
                 tracer, cpus: int):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.cpus = cpus

    def writer_ops(self) -> list[Op]:
        return []

    def apply_pairs(self) -> list[tuple[Op, Op]]:
        return []

    def store_stats(self) -> dict:
        return {}

    def extra(self) -> dict:
        return {}

    # drained answers ------------------------------------------------------
    def _csv(self, df) -> list[tuple]:
        """Drain a query answer through ``output.format.to_csv``, the way a
        dashboard client receives it; rows split back into fields."""
        from akumuli_spark.output.format import to_csv

        with self.tracer.span("format.to_csv"):
            lines = list(to_csv(df))
        self.tracer.add("format.rows", len(lines))
        return csv_rows(lines)

    def _drain_csv(self, df) -> tuple[str, int]:
        return digest_rows(self._csv(df))

    def _drain_rows(self, df) -> tuple[str, int]:
        with self.tracer.span("exec.fetch"):
            rows = [tuple(r) for r in df.toLocalIterator()]
        return digest_rows(rows)

    def _drain_pandas(self, df) -> tuple[str, int]:
        with self.tracer.span("exec.fetch"):
            pdf = df.toPandas()
        return digest_rows(pandas_rows(pdf))


# ---------------------------------------------------------------------------
# dashboard: readers on a z-store with a rollup, then an ingest phase
# ---------------------------------------------------------------------------

def _store_frame(spark, data_dir: str):
    from akumuli_spark.sources.testdata import app_metrics_view, metrics_view

    return metrics_view(spark, data_dir).unionByName(
        app_metrics_view(spark, data_dir))


#: requests per panel kind in the dashboard pool
VARIANTS = 3


def dashboard_pool(seed: int) -> list[tuple[str, str, dict]]:
    """:data:`VARIANTS` requests per dashboard panel kind, parameters drawn
    from the seed: (kind, endpoint, payload).  Ranges are narrow (hours to
    weeks), hour/day aligned as a panel's would be, and end before the
    range the ingest phase appends to."""
    rng = np.random.default_rng([seed, 7])
    ev0, li0 = datagen.EV_START_NS, datagen.LI_START_NS

    def app():
        return f"app.{datagen.EVENT_TYPES[int(rng.integers(0, 5))]}"

    def ev_days(n):
        d = int(rng.integers(0, 28 - n))
        return {"from": ev0 + d * DAY_NS, "to": ev0 + (d + n) * DAY_NS}

    def li_days(n):
        d = int(rng.integers(0, datagen.LI_DAYS - n))
        return {"from": li0 + d * DAY_NS, "to": li0 + (d + n) * DAY_NS}

    def users(k):
        return [str(u) for u in sorted(rng.choice(8, k, replace=False))]

    flags = ["A", "N", "R"]
    return [req for _ in range(VARIANTS) for req in _panels(
        rng, app, ev_days, li_days, users, flags)]


def _panels(rng, app, ev_days, li_days, users, flags):
    return [
        ("select-where", "query",
         {"select": app(), "range": ev_days(1), "where": {"user": users(2)}}),
        ("group-aggregate-1h", "query",
         {"group-aggregate": {"metric": app(), "step": "1h",
                              "func": ["sum", "count"]},
          "range": ev_days(int(rng.integers(1, 4)))}),
        ("group-aggregate-1d", "query",
         {"group-aggregate": {"metric": app(), "step": "1d",
                              "func": ["min", "max", "mean"]},
          "range": ev_days(7)}),
        ("group-aggregate-1d-where", "query",
         {"group-aggregate": {"metric": "lineitem.price", "step": "1d",
                              "func": ["sum", "count"]},
          "range": li_days(30),
          "where": {"returnflag": flags[int(rng.integers(0, 3))]}}),
        ("aggregate-last", "query",
         {"aggregate": {app(): "last"}, "range": ev_days(2)}),
        ("join", "query",
         {"join": ["lineitem.price", "lineitem.qty"], "range": li_days(7)}),
        ("group-aggregate-join", "query",
         {"group-aggregate-join": {"metric": ["lineitem.price", "lineitem.qty"],
                                   "step": "1d", "func": "sum"},
          "range": li_days(14)}),
        ("ewma-chain", "query",
         {"group-aggregate": {"metric": app(), "step": "1h", "func": "mean"},
          "range": ev_days(2),
          "apply": [{"name": "ewma", "decay": float(rng.choice([0.1, 0.3, 0.5]))}]}),
        ("counter-rate-chain", "query",
         {"select": app(), "range": ev_days(1),
          "apply": [{"name": "counter-rate"}]}),
        ("search", "search",
         {"select": app(), "where": {"user": users(1)[0]}}),
        ("suggest", "suggest",
         {"select": "tag-values", "metric": app(), "tag": "user"}),
    ]


class ReadAfterWriteError(AssertionError):
    pass


_BATCH_SCHEMA = "series string, metric string, ts_ns long, value double"


class Dashboard(_Base):
    """Readers: ``min(4, nproc)`` closed-loop clients sending the panel
    pool to a ZorderDatabase with a 1 h rollup attached.  Ingest phase,
    after the readers: one client appends a seeded batch with
    ``zorder_append(epoch=k)`` into the same store, then reads the batch's
    range through the same ZorderDatabase, which must see the whole
    batch.  Appended ranges lie after every reader range."""

    #: a cold store build takes ~20 s; one per run fits the time budget
    setup_reps = 1

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.clients = min(4, self.cpus)
        self.db = None
        self.pool = dashboard_pool(self.seed)
        self.appended: list[int] = []     # epochs committed
        self.append_s: list[float] = []   # zorder_append wall time
        self.visible_s: list[float] = []  # append start → batch readable
        self._next_epoch = 1

    def build(self) -> dict:
        from akumuli_spark.api import ZorderDatabase
        from akumuli_spark.query.rollup import rollup_from_frame
        from akumuli_spark.sources.testdata import events_view
        from akumuli_spark.sources.zorder import zorder_metrics_table

        path = os.path.join(self.work, "zstore")
        t0 = time.perf_counter()
        zorder_metrics_table(self.spark, _store_frame(self.spark, self.data),
                             path, bucket_ns=BUCKET_NS,
                             files_per_partition=FILES_PER_PARTITION)
        t1 = time.perf_counter()
        # the rollup covers every metric the store holds, complete up to
        # the end of the generated data: appended batches lie beyond it
        rollup = rollup_from_frame(_store_frame(self.spark, self.data),
                                   HOUR_NS).cache()
        rollup.count()
        t2 = time.perf_counter()
        self.db = ZorderDatabase(self.spark, path,
                                 events=events_view(self.spark, self.data))
        self.db.attach_rollup(rollup, HOUR_NS,
                              complete_through_ns=datagen.EV_END_NS)
        return {"zorder.build_s": t1 - t0, "rollup.build_s": t2 - t1}

    # readers --------------------------------------------------------------
    def _request(self, endpoint: str, payload: dict, db=None):
        db = db or self.db
        if endpoint == "query":
            return self._drain_csv(db.query(payload))
        if endpoint == "search":
            return self._drain_rows(db.search(payload))
        return self._drain_rows(db.suggest(payload))

    def ops(self) -> list[Op]:
        return [
            Op(f"{i}:{kind}", kind,
               (lambda e=endpoint, p=payload: self._request(e, p)),
               "dashboard.request")
            for i, (kind, endpoint, payload) in enumerate(self.pool)
        ]

    # writer ---------------------------------------------------------------
    @staticmethod
    def reads(k: int) -> list[dict]:
        lo, hi = datagen.batch_range(k)
        rng = {"from": lo, "to": hi}
        return [
            {"aggregate": {f"app.{t}": "count" for t in datagen.EVENT_TYPES},
             "range": rng},
            {"select": "app.purchase", "range": rng,
             "where": {"user": ["1", "5"]}},
        ]

    def _batch_df(self, k: int):
        return self.spark.createDataFrame(
            datagen.ingest_batch(self.seed, k, INGEST_BATCH), _BATCH_SCHEMA)

    def _append_and_read(self, k: int):
        from akumuli_spark.sources.zorder import zorder_append

        df = self._batch_df(k)
        t0 = time.perf_counter()
        with self.tracer.span("zorder.append"):
            zorder_append(self.spark, df, self.db._zpath, epoch=k)
        t1 = time.perf_counter()
        q_count, *rest = self.reads(k)
        counts = self._csv(self.db.query(q_count))
        t2 = time.perf_counter()
        seen = int(sum(r[2] for r in counts))
        if seen != INGEST_BATCH:
            raise ReadAfterWriteError(
                f"batch {k}: {seen} of {INGEST_BATCH} samples visible")
        self.appended.append(k)
        self.append_s.append(t1 - t0)
        self.visible_s.append(t2 - t0)
        return (digest_rows(counts),
                *(self._drain_csv(self.db.query(q)) for q in rest))

    def writer_ops(self) -> list[Op]:
        """The ingest phase: one batch, the next epoch."""
        k = self._next_epoch
        self._next_epoch += 1
        return [Op(f"batch{k}", "append+read",
                   (lambda: self._append_and_read(k)), "ingest.batch")]

    def warm(self) -> None:
        # one request of each panel kind on the reader clients: plans,
        # JIT and caches warm before the timed phase
        with ThreadPoolExecutor(self.clients) as ex:
            first = self.ops()[: len(self.pool) // VARIANTS]
            for f in [ex.submit(op.fn) for op in first]:
                f.result()

    # reference answers ----------------------------------------------------
    def check(self, keys: set[str]) -> dict[str, tuple]:
        """Reference: a plain Database over the raw views (plus every
        appended batch, for the writer's reads) — no store, no rollup."""
        from pyspark.sql import functions as F

        from akumuli_spark.api import Database
        from akumuli_spark.sources.testdata import events_view

        raw = _store_frame(self.spark, self.data)
        ref = Database(self.spark, raw, events_view(self.spark, self.data))
        batches = None
        for k in sorted(self.appended):
            df = self._batch_df(k)
            batches = df if batches is None else batches.unionByName(df)
        ref_w = ref
        if batches is not None:
            tags = F.expr(
                "str_to_map(substring(series, instr(series, ' ') + 1), ' ', '=')")
            ref_w = Database(self.spark, raw.unionByName(batches.select(
                "series", "metric", tags.alias("tags"), "ts_ns", "value")))

        def batch_reads(k):
            return tuple(self._request("query", q, ref_w) for q in self.reads(k))

        jobs = {}
        for (kind, endpoint, payload), op in zip(self.pool, self.ops()):
            if op.key in keys:
                jobs[op.key] = (self._request, endpoint, payload, ref)
        for key in keys:
            if key.startswith("batch"):
                jobs[key] = (batch_reads, int(key[5:]))
        with ThreadPoolExecutor(self.clients) as ex:
            futs = {k: ex.submit(*job) for k, job in jobs.items()}
        return {k: f.result() for k, f in futs.items()}

    def apply_pairs(self) -> list[tuple[Op, Op]]:
        pairs = []
        for kind, _endpoint, payload in self.pool[: len(self.pool) // VARIANTS]:
            if "apply" in payload:
                bare = {k: v for k, v in payload.items() if k != "apply"}
                pairs.append((
                    Op(kind, kind, lambda p=payload: self._request("query", p)),
                    Op(kind + "-bare", kind,
                       lambda p=bare: self._request("query", p)),
                ))
        return pairs

    def store_stats(self) -> dict:
        rows = (_store_frame(self.spark, self.data).count()
                + INGEST_BATCH * len(self.appended))
        return {"bytes": _dir_bytes(self.db._zpath), "samples": rows}

    def extra(self) -> dict:
        tot = sum(self.append_s)
        return {
            "batch_samples": INGEST_BATCH,
            "batches_appended": len(self.append_s),
            "ingest_samples_per_s": (INGEST_BATCH * len(self.append_s) / tot
                                     if tot else 0.0),
            "append_p50_s": float(np.median(self.visible_s)) if self.visible_s else 0.0,
        }


# ---------------------------------------------------------------------------
# scan (+ curation jobs)
# ---------------------------------------------------------------------------

#: full-range analytic queries on the raw views, and the corpus-curation
#: jobs; every entry is a registry (query, DuckDB oracle) pair
SCAN_QUERIES = [
    "group_aggregate_percentiles",
    "aggregate_all_funcs",
    "join_metrics",
    "group_aggregate_join",
    "select_events_regex",
    "apply_ewma",
    "apply_top",
    "apply_heavy_hitters",
    "apply_rate",
    # lighter analyst requests: a larger sample per run for the median
    # and tail, at little extra time
    "select_value_filter",
    "aggregate_group_by_tag",
    "group_aggregate",
    "group_aggregate_bwd",
    "group_aggregate_having",
    "select_events_where_tag",
    "apply_counter_rate",
    "apply_cusum",
    "apply_sma",
    "apply_eval_revenue",
    "aggregate_multi_metric",
]
CURATION_JOBS = {
    "dedup_exact": "dedup.job",
    "dedup_minhash_lsh": "dedup.job",
    "dedup_simhash": "dedup.job",
    "ann_cosine_topk": "similarity.job",
    "text_quality": "text.job",
    "pii_scrub": "text.job",
}

E0, E1 = datagen.EV_START_NS, datagen.EV_START_NS + 31 * DAY_NS
#: apply chains whose cost the traced run isolates (with vs without)
_APPLY_PAIRS = [
    {"group-aggregate": {"metric": "app.error", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1}, "apply": [{"name": "ewma", "decay": 0.3}]},
    {"select": "app.purchase", "range": {"from": E0, "to": E1},
     "apply": [{"name": "top", "N": 3}]},
    {"select": "app.purchase", "range": {"from": E0, "to": E1},
     "apply": [{"name": "heavy-hitters", "error": 0.01, "portion": 0.12}]},
    {"select": "app.click", "range": {"from": E0, "to": E1},
     "apply": [{"name": "rate"}]},
]
#: ``rate`` over a raw lineitem select: several samples share a day
#: timestamp, so Δt = 0.  The reference (rate.cpp) yields inf there; the
#: engine raises DIVIDE_BY_ZERO under ANSI mode.  Probed every run.
RATE_DEFECT_QUERY = {
    "select": "lineitem.price",
    "range": {"from": datagen.LI_START_NS, "to": datagen.LI_END_NS},
    "apply": [{"name": "rate"}],
}


class Scan(_Base):
    """1 closed-loop analyst: registry analytic queries over the raw views
    and curation jobs over the corpus, drained with ``toPandas()``."""

    def build(self) -> dict:
        from akumuli_spark.sources.testdata import (
            app_metrics_view, events_view, metrics_view,
        )

        t0 = time.perf_counter()
        for view in (metrics_view, app_metrics_view, events_view):
            view(self.spark, self.data).schema  # resolves the parquet footers
        return {"views.build_s": time.perf_counter() - t0}

    def _registry_op(self, name: str):
        from akumuli_spark.registry import REGISTRY

        return self._drain_pandas(REGISTRY[name][0](self.spark, self.data))

    def ops(self) -> list[Op]:
        # fixed order: what runs before a request (warm plans, live Python
        # workers) shapes its latency, so every run keeps the same order
        return [Op(n, n, (lambda n=n: self._registry_op(n)),
                   CURATION_JOBS.get(n, "scan.query"))
                for n in SCAN_QUERIES + list(CURATION_JOBS)]

    def warm(self) -> None:
        # one query and one Python-worker job: plan/codegen and worker
        # start-up happen before the timed phase
        self._registry_op("group_aggregate_percentiles")
        self._registry_op("text_quality")

    def check(self, keys: set[str]) -> dict[str, tuple]:
        """Reference: the registry's DuckDB oracle SQL (built on the view
        twins in sources/testdata.py) over the same parquet files."""
        import duckdb

        from akumuli_spark.registry import REGISTRY

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in ("lineitem", "events", "documents", "embeddings"):
            p = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        try:
            return {k: digest_rows(pandas_rows(con.sql(REGISTRY[k][1]).df()))
                    for k in keys}
        finally:
            con.close()

    def probe_rate_defect(self) -> str:
        from akumuli_spark.query.engine import execute_query
        from akumuli_spark.sources.testdata import metrics_view

        try:
            execute_query(self.spark, RATE_DEFECT_QUERY,
                          metrics_view(self.spark, self.data)).toPandas()
        except Exception as e:  # noqa: BLE001 - the defect is the outcome
            return f"raised {type(e).__name__}: {str(e).splitlines()[0][:160]}"
        return "no error"

    def apply_pairs(self) -> list[tuple[Op, Op]]:
        from akumuli_spark.query.engine import execute_query
        from akumuli_spark.sources.testdata import app_metrics_view

        def run(q):
            return self._drain_pandas(
                execute_query(self.spark, q, app_metrics_view(self.spark, self.data)))

        pairs = []
        for q in _APPLY_PAIRS:
            bare = {k: v for k, v in q.items() if k != "apply"}
            name = q["apply"][0]["name"]
            pairs.append((Op(name, name, lambda q=q: run(q)),
                          Op(name + "-bare", name, lambda q=bare: run(q))))
        return pairs


WORKLOADS = {"dashboard": Dashboard, "scan": Scan}
