"""``catalog``: pinned registry rows at sf0.01, one closed-loop client.

One untimed warm-up pass builds the rows' on-disk layouts and warms the JIT;
timed passes then repeat the pinned rows in a seed-permuted order until the
run's seconds are spent (at least ``min_passes``).  Each row is timed from
the call that builds its DataFrame to the end of ``toPandas()``.  A row's
latency is its median over the timed passes; ``op_iqm_ms`` and
``op_tail_ms`` summarize those latencies over the rows.  Every result,
warm-up included, is compared with the row's DuckDB oracle after the timed
region."""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import sys
import time
import traceback

from harness import DATA_DIR, ROOT, gc_since, iqm, tail_mean, settle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
#: Spark work reported row by row for the rows in ``traced_rows``
ROW_FIELDS = ["exec_ms", "executor_run_ms", "shuffle_write_bytes", "spill_bytes"]


def _normalize():
    """``tools/check.py``'s canonicalizer: the rule the correctness gate uses."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class Catalog:
    def __init__(self, cfg: dict, smoke: bool):
        self.rows = list(cfg["smoke_rows"] if smoke else cfg["rows"])
        self.traced_rows = cfg["traced_rows"]
        if not set(self.traced_rows) <= set(self.rows):
            raise ValueError("every traced row must be one of the rows the run executes")
        self.min_passes = 1 if smoke else cfg["min_passes"]
        self.sf_dir = os.path.join(DATA_DIR, "sf0.001" if smoke else "sf0.01")

    def prepare(self, spark) -> None:
        """Set-up a user pays before the first row: open every table."""
        from memory_opensource_spark.sources import tables

        for t in TABLES:
            tables.load(spark, self.sf_dir, t)
        spark.read.parquet(os.path.join(self.sf_dir, "region.parquet")).count()

    def _run_row(self, spark, name: str, tracer=None):
        from memory_opensource_spark.queries import QUERIES

        t0 = time.perf_counter()
        if tracer is None:
            pdf = QUERIES[name](spark, self.sf_dir).toPandas()
            return pdf, time.perf_counter() - t0, None
        with tracer.operation(f"row:{name}") as rec:
            with tracer.span(f"queries.{name}"):
                df = QUERIES[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            with tracer.span("toPandas"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
            rec["build_ms"], rec["exec_ms"] = (t1 - t0) * 1000.0, (t2 - t1) * 1000.0
        return pdf, t2 - t0, rec

    def _pass(self, spark, order, st, tracer=None):
        """One pass over ``order``; returns its wall time and each row's latency."""
        lat, t0 = {}, time.perf_counter()
        for name in order:
            try:
                pdf, dt, rec = self._run_row(spark, name, tracer)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                st["failures"].append((name, f"raised {e!r}"[:300]))
                continue
            lat[name] = dt
            st["results"].append((name, pdf))
            if rec is not None:
                st["recs"].append(rec)
        return time.perf_counter() - t0, lat

    def run(self, spark, seed: int, seconds: float, tracer=None, corrupt=False) -> dict:
        """The timed part: a warm-up pass, then the timed passes."""
        rng = random.Random(seed)
        st = {"results": [], "failures": [], "recs": []}
        st["warmup_s"], _ = self._pass(spark, self.rows, st)
        n_warm = len(st["results"])
        passes, plain, traced = [], [], []
        gc0 = settle(spark)
        t_start = time.perf_counter()
        while True:
            i = len(passes)
            spent = time.perf_counter() - t_start >= seconds and i >= self.min_passes
            # traced runs pair an untraced and a traced pass over the same rows,
            # in alternating order, so the pairs price the tracing
            if spent and (tracer is None or i % 2 == 0):
                break
            use = tracer if tracer is not None and (i % 2 == 1) == (i // 2 % 2 == 0) else None
            if tracer is not None:
                tracer.enabled = use is not None
            order = list(self.rows)
            rng.shuffle(order)
            dt, lat = self._pass(spark, order, st, use)
            passes.append(dt)
            (traced if use else plain).append((dt, lat))
        if tracer is not None:
            tracer.enabled = False
        if corrupt and len(st["results"]) > n_warm:
            name, pdf = st["results"][n_warm]
            st["results"][n_warm] = (name, pdf.iloc[:-1] if len(pdf) else pdf.assign(_corrupt=1))
        st.update(passes=passes, plain=plain, traced=traced, gc=gc_since(spark, gc0))
        return st

    def check(self, st: dict, tracer=None) -> dict:
        """Untimed: verify every result, then derive the metrics."""
        failures = st["failures"] + self.verify(st["results"])
        for name, why in failures:
            print(f"# FAIL {name}: {why}", file=sys.stderr)
        row_ms = {}
        for _, lat in st["plain"]:
            for name, dt in lat.items():
                row_ms.setdefault(name, []).append(dt * 1000.0)
        per_row = [statistics.median(v) for v in row_ms.values()]
        metrics = {
            "script_s": statistics.median(dt for dt, _ in st["plain"]),
            "op_iqm_ms": iqm(per_row),
            "op_tail_ms": tail_mean(per_row),
        }
        layers = {}
        if tracer is not None:
            layers["trace.overhead_pct"] = (
                statistics.median(dt for dt, _ in st["traced"])
                / statistics.median(dt for dt, _ in st["plain"]) - 1.0) * 100.0
            layers.update(self.layer_metrics(st["recs"]))
        detail = {"warmup_s": st["warmup_s"], "passes_s": st["passes"], "gc": st["gc"],
                  "row_median_ms": {k: statistics.median(v) for k, v in row_ms.items()},
                  "failures": failures}
        return {"metrics": metrics, "layers": layers, "detail": detail,
                "attempted": len(st["results"]) + len(st["failures"]),
                "failed": len(failures)}

    def layer_metrics(self, recs: list[dict]) -> dict:
        out = {}
        for name in self.traced_rows:
            mine = [r for r in recs if r["kind"] == f"row:{name}"]
            if mine:
                for f in ROW_FIELDS:
                    out[f"catalog.{name}.{f}"] = statistics.median(r[f] for r in mine)
        return out

    def verify(self, results) -> list[tuple[str, str]]:
        """Compare every collected result with the row's DuckDB oracle."""
        import duckdb

        from memory_opensource_spark.queries import ORACLE

        normalize = _normalize()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, t)}.parquet'")
        expected: dict[str, object] = {}
        bad = []
        for name, pdf in results:
            try:
                if name not in expected:
                    odf = con.sql(ORACLE[name]).df()
                    expected[name] = (sorted(odf.columns), len(odf), normalize(odf))
                cols, n, rows = expected[name]
                if sorted(pdf.columns) != cols:
                    bad.append((name, f"columns {sorted(pdf.columns)} != {cols}"))
                elif len(pdf) != n:
                    bad.append((name, f"{len(pdf)} rows != {n}"))
                elif normalize(pdf.copy()) != rows:
                    bad.append((name, "values differ from the oracle"))
            except Exception as e:  # an oracle or canonicalizer error is a failed check
                bad.append((name, f"check error: {e!r}"))
        con.close()
        return bad
