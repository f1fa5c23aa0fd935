"""``registry`` workload: warm passes over a fixed subset of the query
registry (``gpx2tiles_spark.queries``) to a ``noop`` sink.

These queries run scan → exchange → Python stages and touch no raster,
PNG or store code, so a render-layer change should leave this workload
unchanged while a shared change (session config, projection, events
helpers) shows here.  The subset keeps the pass short enough for several
passes per run; it was chosen for its Python stages (``mapInPandas``,
``applyInPandas``) and for the queries the roadmap names.

Inputs: the seed draws the ``events`` table (``tables.py``).  Every pass
issues the queries in the same order.

Check, outside the timed window: each query's rows and value hash equal
its DuckDB ``oracle_sql()`` under the ``canon`` rule of
``tools/check_oracles.py``.  The rows checked are those the first
warm-up pass collected; the timed passes run the same plans into the
``noop`` sink.
"""

from __future__ import annotations

import os
import statistics
import time

from harness import OpLog, group_total

QUERIES = ("tile_counts_pyramid", "clip_candidates", "sessionize",
           "track_hausdorff", "track_simplify_dp", "cms_user_counts")


class Registry:
    name = "registry"

    def __init__(self, spark, work: str, seed: int,
                 queries: tuple[str, ...] = QUERIES, n_events: int = 10000):
        from gpx2tiles_spark.queries import queries as registry

        self.spark = spark
        self.work = work
        self.seed = seed
        self.data_dir = os.path.join(work, "tables")
        self.n_events = n_events
        self.queries = list(queries)
        self.fns = registry()
        self.times: dict[str, list[float]] = {q: [] for q in self.queries}
        # {query: (columns, rows)} collected by the first warm-up pass
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.sizes: dict = {}
        self.inject_fault = False  # self-test: alter one result row

    def setup_inputs(self, reps: int = 3) -> float:
        from tables import write_events

        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            write_events(self.data_dir, self.seed, self.n_events)
            walls.append(time.perf_counter() - t0)
        self.sizes = {"events": self.n_events, "queries": list(self.queries)}
        return statistics.median(walls)

    def run_query(self, q: str) -> float:
        t0 = time.perf_counter()
        self.fns[q](self.spark, self.data_dir) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def warmup(self) -> None:
        for q in self.queries:
            if q in self.results:
                self.run_query(q)
            else:
                sdf = self.fns[q](self.spark, self.data_dir)
                self.results[q] = (sdf.columns,
                                   [tuple(r) for r in sdf.collect()])

    def check_warmup(self) -> None:
        """Nothing to check here: the oracle check runs after the timed
        passes (:meth:`failures`)."""

    def op(self, i: int) -> None:
        for q in self.queries:
            self.times[q].append(self.run_query(q))

    def check(self) -> dict[str, str]:
        """Per-query oracle comparison; returns {query: problem}."""
        import duckdb
        from check_oracles import canon

        from gpx2tiles_spark.queries import oracle_sql

        osql = oracle_sql()
        con = duckdb.connect()
        problems = {}
        try:
            p = os.path.join(self.data_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{p}')")
            for q in self.queries:
                try:
                    scols, srows = self.results[q]
                    srows = list(srows)
                    if self.inject_fault and srows:
                        self.inject_fault = False
                        srows[0] = tuple("x" for _ in srows[0])
                    cur = con.execute(osql[q])
                    ocols = [d[0] for d in cur.description]
                    s = canon(srows, scols)
                    o = canon(cur.fetchall(), ocols)
                    if sorted(scols) != sorted(ocols):
                        problems[q] = f"columns {scols} vs {ocols}"
                    elif s != o:
                        problems[q] = (f"rows {s[0]} vs oracle {o[0]}, "
                                       f"hash {'MATCH' if s[1] == o[1] else 'MISMATCH'}")
                except Exception as e:  # noqa: BLE001 — a failed check
                    problems[q] = f"{type(e).__name__}: {e}"[:300]
        finally:
            con.close()
        return problems

    def failures(self, log: OpLog, n_ops: int) -> tuple[int, list[str]]:
        """Operations are query executions; a query whose output fails
        the oracle fails every execution of it."""
        problems = self.check()
        bad_passes = {i for i, _ in log.errors}
        failed = len(bad_passes) * len(self.queries) + sum(
            1 for q in problems for i in range(n_ops) if i not in bad_passes)
        notes = [f"pass {i}: {e}" for i, e in log.errors]
        notes += [f"{q}: {p}" for q, p in sorted(problems.items())]
        return failed, notes

    def attempted(self, n_ops: int) -> int:
        return n_ops * len(self.queries)

    # -- traced run ----------------------------------------------------
    def traced(self, stage) -> tuple[dict, list]:
        for q in self.queries:
            stage(f"q:{q}", lambda q=q: self.fns[q](self.spark, self.data_dir)
                  .write.format("noop").mode("overwrite").save())
        return {}, []

    def layer_names(self) -> list[str]:
        """The tagged stages that make up one pass (``trace.layers_s``)."""
        return [f"q:{q}" for q in self.queries]

    def layer_metrics(self, walls: dict, groups: dict, counters: dict) -> dict:
        names = self.layer_names()
        m = {f"registry.{q}_s": walls[f"q:{q}"] for q in self.queries}
        m["registry.jobs"] = group_total(groups, names, "jobs")
        m["registry.shuffle_mb"] = group_total(groups, names, "shuffle_mb")
        return m

    def detail(self) -> dict:
        return {"query_median_s": {q: statistics.median(v)
                                   for q, v in self.times.items() if v}}
